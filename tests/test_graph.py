"""Fixed-round integer PageRank (functions/graph.py) vs a Python mirror
on hand-built graphs (hub star, chain, dangling nodes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from html_parser_spark.functions.graph import PR_SCALE, pagerank


def _mirror(nodes, edges, n_iter=3):
    from collections import Counter, defaultdict

    out_deg = Counter(s for s, _ in edges)
    pr = {v: PR_SCALE for v in nodes}
    for _ in range(n_iter):
        s = defaultdict(int)
        for u, v in edges:
            s[v] += pr[u] // out_deg[u]
        pr = {v: 150_000 + (850 * s.get(v, 0)) // 1000 for v in nodes}
    return pr


def test_pagerank_star_and_chain_match_mirror(spark):
    nodes = list(range(7))
    # star: 1..4 -> 0; chain: 4 -> 5 -> 6; 0 -> 1 back-edge; 3 dangling-in
    edges = [(1, 0), (2, 0), (3, 0), (4, 0), (4, 5), (5, 6), (0, 1)]
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r for r in pagerank(ndf, edf).collect()}
    want = _mirror(nodes, edges)
    for v in nodes:
        assert got[v].pr_micro == want[v]
    assert got[0].in_deg == 4 and got[6].in_deg == 1 and got[2].in_deg == 0
    # the hub must outrank everything else
    assert got[0].pr_micro == max(r.pr_micro for r in got.values())
    # node 2 has no in-edges: exactly the teleport base after any round
    assert got[2].pr_micro == 150_000


def test_pagerank_duplicate_edges_count_twice(spark):
    nodes = [0, 1, 2]
    edges = [(0, 1), (0, 1), (2, 1)]  # parallel edges from 0
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r for r in pagerank(ndf, edf, n_iter=1).collect()}
    # out_deg(0)=2, both parallel edges contribute pr/2 each
    assert got[1].pr_micro == 150_000 + (850 * (PR_SCALE + PR_SCALE)) // 1000
    assert got[1].in_deg == 3


def _hits_mirror(nodes, edges, n_iter=2):
    from collections import defaultdict

    hub = {v: PR_SCALE for v in nodes}
    auth = {}
    for _ in range(n_iter):
        ar = defaultdict(int)
        for u, v in edges:
            ar[v] += hub[u]
        amax = max(max(ar.values(), default=0), 1)
        auth = {v: ar.get(v, 0) * PR_SCALE // amax for v in nodes}
        hr = defaultdict(int)
        for u, v in edges:
            hr[u] += auth[v]
        hmax = max(max(hr.values(), default=0), 1)
        hub = {v: hr.get(v, 0) * PR_SCALE // hmax for v in nodes}
    return auth, hub


def test_hits_star_separates_hubs_from_authorities(spark):
    from html_parser_spark.functions.graph import hits

    nodes = list(range(6))
    # 1..4 all point at 0 (the authority); 5 points at 1..4 AND 0 (the hub)
    edges = [(1, 0), (2, 0), (3, 0), (4, 0),
             (5, 1), (5, 2), (5, 3), (5, 4), (5, 0)]
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r for r in hits(ndf, edf).collect()}
    want_auth, want_hub = _hits_mirror(nodes, edges)
    for v in nodes:
        assert got[v].auth_micro == want_auth[v]
        assert got[v].hub_micro == want_hub[v]
    # 0 is the top authority but a zero hub; 5 the top hub, zero authority
    assert got[0].auth_micro == PR_SCALE and got[0].hub_micro == 0
    assert got[5].hub_micro == PR_SCALE and got[5].auth_micro == 0
    # the mid nodes are partial hubs (they endorse 0) with some authority
    assert 0 < got[1].hub_micro < PR_SCALE
    assert 0 < got[1].auth_micro < PR_SCALE


def test_hits_empty_edges_all_zero(spark):
    from html_parser_spark.functions.graph import hits

    ndf = spark.createDataFrame([(v,) for v in range(3)], "node long")
    edf = spark.createDataFrame([], "src long, dst long")
    rows = hits(ndf, edf).collect()
    assert len(rows) == 3
    assert all(r.auth_micro == 0 and r.hub_micro == 0 for r in rows)



def test_ansi_mode_makes_rank_overflow_loud(spark):
    """Sessions built through session.apply_scale_confs run with ANSI
    arithmetic, so the hits normalize step (raw sum * SCALE div max) fails
    loudly past its ~9.2e6 in-degree bound instead of wrapping."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    step = F.expr(f"cast(coalesce(ar, 0) * {PR_SCALE} div amax as bigint)")

    def normalize(in_links):
        # the raw authority sum of a hub with `in_links` full-weight in-links
        df = spark.createDataFrame([(in_links * PR_SCALE, 1)], "ar long, amax long")
        return df.select(step).collect()[0][0]

    assert normalize(9_200_000) == 9_200_000 * PR_SCALE * PR_SCALE
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        normalize(9_300_000)
