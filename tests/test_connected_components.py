"""Duplicate-cluster resolution (pairs -> connected components).

The star-forest convergence (alternating large-star/small-star) is checked
against a plain union-find over the same edge lists — crafted shapes that
stress the algorithm (long chains, where naive min-propagation would need
O(diameter) rounds; hub stars, where neighbor-collecting designs blow up;
multiple components; reversed/duplicated edges) plus a seeded random graph.
Each round is a `cache.checkpoint`, so every call holds a cache scope.
"""

from __future__ import annotations

import random

import pytest

from html_parser_spark import cache
from html_parser_spark.functions import dedup as DD


def _uf_clusters(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    out = {}
    for root, members in comp.items():
        rep = min(members)
        for m in members:
            out[m] = (rep, len(members))
    return out


def _clusters(df) -> dict:
    with cache.scope(df.sparkSession):
        return {
            r.doc_id: (r.rep_doc_id, r.cluster_size)
            for r in DD.connected_components(df).collect()
        }


def _run(spark, edges):
    df = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    assert _clusters(df) == _uf_clusters(edges)


def test_chain_and_star_and_components(spark):
    edges = (
        # 17-node chain given in pessimal (descending) order
        [(i + 1, i) for i in range(100, 116)]
        # hub star: node 500 connected to 20 higher ids
        + [(500, 500 + i) for i in range(1, 21)]
        # two-node component + duplicate and reversed edges
        + [(7, 3), (3, 7), (7, 3)]
    )
    _run(spark, edges)


def test_triangle_merges_pairwise_dups(spark):
    # A~B, B~C from LSH must land in ONE cluster with rep=min
    _run(spark, [(2, 1), (3, 2), (10, 11), (11, 12), (12, 10)])


def test_seeded_random_graph_matches_union_find(spark):
    rng = random.Random(42)
    nodes = list(range(1000, 1080))
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(60)]
    _run(spark, edges)


def test_self_and_null_edges_ignored(spark):
    df = spark.createDataFrame(
        [(1, 1), (2, 3), (None, 4), (5, None)], "doc_a: long, doc_b: long"
    )
    assert _clusters(df) == {2: (2, 2), 3: (2, 2)}


def test_no_fixpoint_raises(spark):
    df = spark.createDataFrame([(2, 1)], "doc_a: long, doc_b: long")
    with cache.scope(spark), pytest.raises(RuntimeError, match="fixpoint"):
        DD.connected_components(df, max_rounds=0)
