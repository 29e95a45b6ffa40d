"""Fixed-round Lloyd k-means (functions/clustering.py): hand-checkable
geometry, the empty-cluster carryover rule, and oracle-SQL equivalence on
a seeded random corpus (the gate re-checks on the real tables; the oracle
builders live with their records in registry/vectors.py)."""

from __future__ import annotations

import duckdb
import pytest

from html_parser_spark import cache
from html_parser_spark.functions.clustering import kmeans_assign
from registry.vectors import kmeans_oracle_sql, semantic_dedup_oracle_sql


def _embs(spark, rows, dim):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_separated_clusters(spark):
    lo = [0.0, 0.0, 0.0, 0.0]
    hi = [10.0, 10.0, 10.0, 10.0]
    rows = [(0, lo), (1, hi)] + [
        (i, [v + 0.25 * (i % 3) for v in (lo if i % 2 == 0 else hi)])
        for i in range(2, 12)
    ]
    got = {
        r.vec_id: r
        for r in kmeans_assign(_embs(spark, rows, 4), k=2, n_iter=2, dim=4).collect()
    }
    for i, _ in rows:
        assert got[i].cluster == (0 if i % 2 == 0 else 1)
    assert got[0].dist < 1e9  # squared-distance in the x1000 space


def test_kmeans_duplicate_seeds_empty_cluster_carryover(spark):
    # seeds 0 and 1 are identical: every point tie-breaks to cid 0, cluster 1
    # goes empty and must KEEP its seed centroid (not NaN/vanish)
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(6)]
    got = kmeans_assign(_embs(spark, rows, 4), k=2, n_iter=2, dim=4).collect()
    assert len(got) == 6
    assert all(r.cluster == 0 and r.dist == 0.0 for r in got)


def test_kmeans_matches_oracle_on_seeded_corpus(spark):
    import random

    import numpy as np

    rng = random.Random(7)
    # rows flow to Spark as array<float>; the oracle table must hold the
    # SAME f32-rounded values or round(x*1000) ties flip at the .5 edge
    rows = [
        (i, [float(np.float32(rng.uniform(-1, 1))) for _ in range(8)])
        for i in range(60)
    ]
    spark_out = sorted(
        (r.vec_id, r.cluster, r.dist)
        for r in kmeans_assign(_embs(spark, rows, 8), k=4, n_iter=2, dim=8).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS SELECT "
        "UNNEST(range(60)) AS vec_id, UNNEST($vecs) AS embedding",
        {"vecs": [v for _, v in rows]},
    )
    duck_out = sorted(
        tuple(t) for t in con.execute(
            kmeans_oracle_sql(k=4, n_iter=2, dim=8)
        ).fetchall()
    )
    assert spark_out == duck_out  # bit-exact, including dist doubles


def test_semantic_dedup_keep_rule(spark):
    """SemDeDup keep rule: within a duplicate pair the NEAR-centroid member
    is dropped; exact ties keep the smaller vec_id. Vectors 0/1 seed two
    well-separated clusters; 2 is a near-copy of 0 slightly FARTHER from
    the centroid than 0 is, so 0 (nearer) is dropped and 2 kept; 3 is an
    exact copy of 1 (tie -> 3 dropped); 4 sits near cluster 1 but below
    the cosine bar -> no dup."""
    from html_parser_spark.functions.clustering import semantic_dedup

    lo = [1.0, 1.0, 1.0, 1.0]
    hi = [10.0, 10.0, 10.0, -10.0]
    rows = [
        (0, lo),
        (1, hi),
        (2, [v * 1.002 for v in lo]),  # same direction (cos=1), near 0
        (3, list(hi)),                 # exact copy of 1
        (4, [8.5, 10.0, 10.0, -10.0]),  # same cluster as hi, cos ~0.9978
        (5, [v * 0.9 for v in lo]),    # same direction, FAR from centroid
    ]
    # cluster {0,2,5}: centroid ~967.33 per dim (quantized), so 5 (900) is
    # the far member and survives; 0 (1000) is nearest -> loses both its
    # pairs; 2 (1002) loses to 5. Cluster {1,3,4}: 3 is an exact copy of 1
    # (equal dist -> the larger id, 3, drops); 4 is below the cosine bar.
    docs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.vec_id: r
        for r in semantic_dedup(docs, k=2, n_iter=2, dim=4).collect()
    }
    assert {i: got[i].keep for i in range(6)} == {
        0: 0, 1: 1, 2: 0, 3: 0, 4: 1, 5: 1,
    }
    assert {i: got[i].n_dups for i in range(6)} == {
        0: 2, 1: 1, 2: 2, 3: 1, 4: 0, 5: 2,
    }
    # the two clusters never cross-compare
    assert got[0].cluster == got[2].cluster != got[1].cluster


def test_semantic_dedup_matches_oracle_on_seeded_corpus(spark):
    import random

    from html_parser_spark.functions.clustering import semantic_dedup

    rnd = random.Random(7)
    dim = 8
    rows = []
    for i in range(40):
        base = [round(rnd.uniform(-1, 1), 3) for _ in range(dim)]
        rows.append((i, base))
    # planted exact copies
    rows += [(100 + i, list(rows[i][1])) for i in range(0, 40, 5)]
    docs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(
        (r.vec_id, r.cluster, r.dist, r.n_dups, r.keep)
        for r in semantic_dedup(docs, k=4, n_iter=2, dim=dim).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE corpus AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({vid}, {list(map(float, emb))}::FLOAT[])" for vid, emb in rows
        )
        + ") t(vec_id, embedding)"
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                semantic_dedup_oracle_sql(k=4, n_iter=2, dim=dim, source="corpus")
            ).fetchall(),
        )
    )
    assert got == want
    # every planted copy loses to its original (tie -> larger id drops)
    keep = {v: k for v, _, _, _, k in got}
    assert all(keep[100 + i] == 0 for i in range(0, 40, 5))


def _seeded_corpus(spark, n=60, dim=8):
    import random

    import numpy as np

    rng = random.Random(11)
    rows = [
        (i, [float(np.float32(rng.uniform(-1, 1))) for _ in range(dim)])
        for i in range(n)
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE embeddings AS SELECT "
        f"UNNEST(range({n})) AS vec_id, UNNEST($vecs) AS embedding",
        {"vecs": [v for _, v in rows]},
    )
    return _embs(spark, rows, dim), con


@pytest.mark.parametrize("n_iter", [1, 2, 3, 4])
def test_kmeans_rows_same_in_and_out_of_cache_scope(spark, n_iter):
    """Each round's centroids are persisted inside a cache scope and
    recomputed outside one: both must give the oracle's exact rows."""
    embs, con = _seeded_corpus(spark)

    def rows():
        return sorted(map(tuple, kmeans_assign(embs, k=4, n_iter=n_iter, dim=8).collect()))

    with cache.scope(spark):
        scoped = rows()
    unscoped = rows()
    oracle = sorted(
        map(tuple, con.execute(kmeans_oracle_sql(k=4, n_iter=n_iter, dim=8)).fetchall())
    )
    assert scoped == unscoped == oracle


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _top_level_nodes(plan, seen: set):
    """Nodes of an executed plan through adaptive plans, query stages and
    subqueries, but not into the plan cached behind an InMemoryTableScan."""
    if plan.id() in seen:
        return
    seen.add(plan.id())
    yield plan
    kids = _seq(plan.children()) + _seq(plan.subqueries())
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        kids.append(plan.executedPlan())
    elif kind.endswith("QueryStageExec"):
        kids.append(plan.plan())
    for k in kids:
        yield from _top_level_nodes(k, seen)


def test_kmeans_plan_does_not_grow_with_rounds(spark):
    """Inside a cache scope a round's plan reads the previous centroids from
    the cache, so the final plan holds one round's aggregates and exchanges
    whatever n_iter is (without the per-round cache, round r re-expands
    every earlier round)."""
    embs, _ = _seeded_corpus(spark)

    def wide_nodes(n_iter):
        with cache.scope(spark):
            df = kmeans_assign(embs, k=4, n_iter=n_iter, dim=8)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan()
            return sum(
                1
                for n in _top_level_nodes(plan, set())
                if "HashAggregate" in n.nodeName() or "Exchange" in n.nodeName()
            )

    at2, at4 = wide_nodes(2), wide_nodes(4)
    assert at2 > 0
    assert at4 <= at2, f"plan grows with rounds: {at2} wide nodes at 2, {at4} at 4"
