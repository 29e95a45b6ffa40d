"""Graph analytics: fixed-round PageRank as pure DataFrame ops, integer
micro-units end to end so the SQL oracle matches EXACTLY (dedup's
connected_components is the other graph operator; see functions/dedup.py).

The float formulation of PageRank is summation-order sensitive (the sum
of in-neighbor contributions lands in different ulps under different
partitionings); scaling ranks to integer micro-units and flooring each
division makes every iteration associative-exact, so Spark's arbitrary
aggregation order equals the oracle's. Fixed damping 850 permille:

    pr_0(v)    = SCALE                      (1e6)
    contrib(e) = pr(src) div out_deg(src)   (integer floor)
    pr_t+1(v)  = (1000 - d) * (SCALE div 1000)
                 + (d * sum(contrib over in-edges of v)) div 1000

Scale posture: one shuffle per iteration (the groupBy(dst) of
contributions, map-side combinable) plus the broadcast-able out-degree
join; iteration count is fixed. Cache rule: whatever a loop reads more
than once goes through `cache.persist` (released by the caller's cache
scope; outside a scope Spark recomputes the same rows) — pagerank's
loop-invariant degree-joined edge table, and each HITS half-round's
scores, which the next half-round and its L-inf scalar both read. The
standard convergence loop just wraps this with a delta check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache

PR_SCALE = 1_000_000
PR_DAMPING_PERMILLE = 850
HITS_ROUNDS = 2


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 3,
) -> DataFrame:
    """nodes: (node bigint); edges: (src, dst), src never null. Returns
    (node, pr_micro bigint, in_deg int) after `n_iter` exact integer
    rounds. Dangling mass is dropped (nodes with no out-edges contribute
    nothing), matching the simple formulation the oracle mirrors."""
    base = (1000 - PR_DAMPING_PERMILLE) * (PR_SCALE // 1000)
    deg = edges.groupBy("src").agg(
        F.expr("cast(count(*) as bigint)").alias("out_deg")
    )
    # loop-invariant: every round joins it, and in a composed query `edges`
    # is a whole extraction chain that would otherwise re-plan and re-run
    # per round. Released when the caller's cache scope closes.
    ed = cache.persist(edges.join(F.broadcast(deg), on="src"))
    pr = nodes.select("node", F.lit(PR_SCALE).cast("bigint").alias("pr_micro"))
    for _ in range(n_iter):
        contrib = (
            ed.join(pr, ed["src"] == pr["node"])
            .select("dst", F.expr("pr_micro div out_deg").alias("c"))
            .groupBy("dst")
            .agg(F.expr("cast(sum(c) as bigint)").alias("s"))
        )
        pr = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            F.expr(
                f"cast({base} + ({PR_DAMPING_PERMILLE} * coalesce(s, 0)) "
                "div 1000 as bigint)"
            ).alias("pr_micro"),
        )
    in_deg = ed.groupBy("dst").agg(
        F.expr("cast(count(*) as int)").alias("in_deg")
    )
    return pr.join(in_deg, pr["node"] == in_deg["dst"], "left").select(
        "node", "pr_micro", F.expr("coalesce(in_deg, 0)").alias("in_deg")
    )


def hits(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Fixed-round HITS (Kleinberg hubs & authorities) — the second classic
    link-analysis score a web pipeline wants next to PageRank (PageRank
    ranks endorsement mass; HITS separates directories/link-hubs from
    endorsed content, a useful crawl-prioritization and quality signal).

    nodes: (node bigint); edges: (src, dst). Returns (node, auth_micro
    bigint, hub_micro bigint) after HITS_ROUNDS exact integer rounds.

    Exactness: the textbook L2 normalization needs sqrt (not cross-engine
    exact), so each half-round normalizes by the L-infinity norm instead —
    x * SCALE div max(x) in integer micro-units with floored division,
    making every round associative-exact like pagerank()/kmeans. Overflow
    bound: raw sums are <= SCALE * max_weighted_degree and the normalize
    multiplies by SCALE again, so the method is exact while
    max_in_degree <= ~9.2e6 (int64 / SCALE^2). A hub with more in-links
    than that overflows bigint; under ANSI mode (spark.sql.ansi.enabled,
    the Spark 4 default, pinned by session.apply_scale_confs) the query
    then fails with ARITHMETIC_OVERFLOW instead of returning wrapped
    ranks. For such graphs drop SCALE to 1e3.

    Scale posture: two map-side-combinable shuffles per round (the
    contribution groupBys on dst then src); the L-inf scalar attaches as a
    broadcast one-row cross join, never a single-partition window. Each
    half-round's scores are read twice by the next (its join and, through
    the raw sums, its L-inf scalar), so they go through `cache.persist`
    and the plan stays one half-round deep instead of doubling per round.
    """
    hub = nodes.select(
        "node", F.lit(PR_SCALE).cast("bigint").alias("hub_micro")
    )
    auth = None
    for _ in range(HITS_ROUNDS):
        a_raw = (
            edges.join(hub, edges["src"] == hub["node"])
            .select("dst", "hub_micro")
            .groupBy("dst")
            .agg(F.expr("cast(sum(hub_micro) as bigint)").alias("ar"))
        )
        amax = a_raw.agg(
            F.expr("cast(greatest(max(ar), 1) as bigint)").alias("amax")
        )
        auth = cache.persist(
            nodes.join(a_raw, nodes["node"] == a_raw["dst"], "left")
            .crossJoin(F.broadcast(amax))
            .select(
                "node",
                F.expr(
                    f"cast(coalesce(ar, 0) * {PR_SCALE} div amax as bigint)"
                ).alias("auth_micro"),
            )
        )
        h_raw = (
            edges.join(auth, edges["dst"] == auth["node"])
            .select("src", "auth_micro")
            .groupBy("src")
            .agg(F.expr("cast(sum(auth_micro) as bigint)").alias("hr"))
        )
        hmax = h_raw.agg(
            F.expr("cast(greatest(max(hr), 1) as bigint)").alias("hmax")
        )
        hub = cache.persist(
            nodes.join(h_raw, nodes["node"] == h_raw["src"], "left")
            .crossJoin(F.broadcast(hmax))
            .select(
                "node",
                F.expr(
                    f"cast(coalesce(hr, 0) * {PR_SCALE} div hmax as bigint)"
                ).alias("hub_micro"),
            )
        )
    return auth.join(hub, "node").select("node", "auth_micro", "hub_micro")
