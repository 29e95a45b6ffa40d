"""Distributed k-means over the embedding corpus — the ITERATIVE-algorithm
shape (fixed-round Lloyd iterations) expressed as pure DataFrame ops, with
every arithmetic step engine-portable so an ANSI-SQL oracle
(registry/vectors.py) reproduces the assignments BIT-EXACTLY (most
engines can only property-test k-means; this one is gate-hashable).

Determinism recipe (each step is exact or a single IEEE op):
  1. coordinates quantize to integer-VALUED doubles: round(x * 1000) —
     f32->f64 is exact, one IEEE multiply, one tie-away-from-zero round
     (identical in Spark and DuckDB).
  2. centroid update sums integer-valued doubles — every partial sum is
     exact (magnitudes << 2^53), so Spark's partition-order-dependent SUM
     equals any other order; the mean is ONE division of exact inputs.
  3. distance is a LEFT FOLD of (x-c)^2 over the 64 dims (aggregate/
     zip_with on Spark, list_reduce/list_transform in the oracle) — the
     identical operation sequence, hence identical last-ulp results.
  4. argmin tie-breaks on (dist, cid) — total order, no engine choice.

Scale posture: seeds/centroids are k rows — collapsed into ONE broadcast
array row for the assignment step, whose argmin is a ROW-LOCAL
array_min-over-structs expression (no window, no k-fold row expansion —
the corpus NEVER shuffles); the update is a map-side-combinable
groupBy(cid) over 64 per-dim sums (k x 64 numbers of state per
executor). Per iteration the corpus is read once and shuffles only the
k x 64 partials. Each round reads the previous centroids twice (the
assignment's broadcast array and the update's carry-over side), so every
round's centroids go through `cache.persist`: inside the caller's cache
scope the next round reads k cached rows and the plan stays one round
deep at any n_iter; outside a scope the rows are the same, but round r
re-expands 2^r seed chains. Seeds are the first k vec_ids
(deterministic); k-means|| sampling would slot in as a seed provider.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache
from .similarity import _DOT, _NORM2

K_DEFAULT = 8
SCALE = 1000.0

SQDIST = (
    "aggregate(zip_with({a}, {b}, (x, c) -> (x - c) * (x - c)), "
    "cast(0.0 as double), (acc, v) -> acc + v)"
)


def quantized_vectors(embs: DataFrame) -> DataFrame:
    """(vec_id, codes array<double>) with integer-valued coordinates
    round(x * 1000) — the exactness foundation (module docstring #1)."""
    return embs.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> round(cast(x as double) * {SCALE}d))"
        ).alias("codes"),
    )


def _assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per vector: the k centroids collapse into ONE
    broadcast array row, and the argmin is a ROW-LOCAL expression —
    array_min over struct(dist, cid), whose lexicographic struct ordering
    IS the (dist, cid) tie-break the oracle's row_number uses. No k-fold
    row expansion, no window, no per-round corpus Exchange (the previous
    window form shuffled the k-expanded corpus on vec_id every round —
    3 corpus shuffles per kmeans call; this form has zero)."""
    carr = cents.agg(F.collect_list(F.struct("cid", "cent")).alias("cs"))
    best = (
        "array_min(transform(cs, c -> struct("
        + SQDIST.format(a="codes", b="c.cent")
        + " as dist, c.cid as cid)))"
    )
    return (
        vecs.crossJoin(F.broadcast(carr))
        .select("vec_id", "codes", F.expr(best).alias("_b"))
        .select(
            "vec_id", "codes", F.col("_b.cid").alias("cid"),
            F.col("_b.dist").alias("dist"),
        )
    )


def _update(assigned: DataFrame, seeds: DataFrame, dim: int) -> DataFrame:
    """New centroids = per-dim mean of members (exact-int sums, one
    division); clusters that lost every member keep their previous
    centroid (deterministic, mirrors the oracle's LEFT JOIN). The per-dim
    sums and means are expression strings: built from Column objects they
    took ~640 py4j calls per round at 64 dims (0.6-1.7 s of plan building)."""
    sums = assigned.groupBy("cid").agg(
        F.expr("count(*) as n"),
        *[F.expr(f"sum(element_at(codes, {d + 1})) as s{d}") for d in range(dim)],
    )
    means = ", ".join(f"s{d} / cast(n as double)" for d in range(dim))
    new_cent = sums.selectExpr("cid", f"array({means}) as new_cent")
    # broadcast: both sides are k rows, but without the hint the planner
    # saw unsized aggregation outputs and planned a SortMergeJoin per round
    # (two sort stages over 8 rows — pure plan-depth cost, VERDICT r03 #4)
    return seeds.join(F.broadcast(new_cent), on="cid", how="left").select(
        "cid", F.coalesce("new_cent", "cent").alias("cent")
    )


def kmeans_assign(
    embs: DataFrame, k: int = K_DEFAULT, n_iter: int = 2, dim: int = 64
) -> DataFrame:
    """Fixed-round Lloyd k-means; returns the FINAL assignment
    (vec_id, cluster int, dist double) after `n_iter` update rounds —
    dist is the squared distance in the quantized (x1000) space."""
    # persisted: every iteration's assignment pass re-reads the vectors
    # (n_iter + 1 passes); without the cache each pass re-scans the source
    # and re-quantizes. Released when the caller's cache scope closes.
    vecs = cache.persist(quantized_vectors(embs))
    # centroids: the next round reads them twice (module docstring)
    cents = cache.persist(
        vecs.where(F.col("vec_id") < k).select(
            F.col("vec_id").cast("int").alias("cid"), F.col("codes").alias("cent")
        )
    )
    for _ in range(n_iter):
        cents = cache.persist(_update(_assign(vecs, cents), cents, dim))
    final = _assign(vecs, cents)
    return final.select("vec_id", F.col("cid").alias("cluster"), "dist")


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication via cluster-blocked cosine
# ---------------------------------------------------------------------------

SEM_MIN_COS = 0.999


def semantic_dedup(
    embs: DataFrame,
    k: int = K_DEFAULT,
    n_iter: int = 2,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): k-means the embedding
    corpus, compare pairs ONLY within a cluster, call cos >= SEM_MIN_COS a
    semantic duplicate, and within each duplicate pair KEEP the member
    farther from its centroid (the paper's low-centroid-similarity keep
    rule — it preserves the cluster's outskirts, dropping redundant
    near-centroid mass). Ties on distance keep the smaller vec_id.

    Returns one row per input vector:
      (vec_id, cluster int, dist double, n_dups int, keep int)
    n_dups = how many same-cluster vectors sit within SEM_MIN_COS of this one;
    keep = 0 iff some duplicate pair elected this vector its loser.

    Every arithmetic step is engine-portable (quantized kmeans + left-fold
    cosine), so the SQL oracle reproduces keep decisions bit-exactly.

    Scale posture: clustering is the blocker — the pair join shuffles on
    cluster id and is quadratic ONLY within a cluster, which is the
    algorithm's stated cost; k is the knob (k ~ n / desired_cluster_size
    at production scale, e.g. ~100k clusters for web corpora — the paper
    uses the same regime; AQE skew-join splits any runaway cluster). The
    corpus-side join of assignments back to embeddings is one
    co-partitioned shuffle; everything downstream touches only pairs."""
    assigned = kmeans_assign(embs, k, n_iter, dim)
    # persisted: the pair step reads base twice (self-join) and the final
    # keep projection a third time; released, with kmeans_assign's caches,
    # when the caller's cache scope closes. n2 is each vector's squared
    # norm, folded once here instead of twice per pair (same fold on the
    # same operands, so cos is bit-identical)
    base = cache.persist(
        assigned.join(embs.select("vec_id", "embedding"), "vec_id").withColumn(
            "n2", F.expr(_NORM2.format(a="embedding"))
        )
    )

    a, b = base.alias("a"), base.alias("b")
    dot = _DOT.format(a="a.embedding", b="b.embedding")
    pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            F.col("a.dist").alias("da"),
            F.col("b.dist").alias("db"),
            F.expr(f"{dot} / (sqrt(a.n2) * sqrt(b.n2))").alias("cos"),
        )
        .where(F.col("cos") >= SEM_MIN_COS)
    )
    # per-vector duplicate stats: one explode of the (small) pair set —
    # loser = the near-centroid member (drop), ties drop the larger id
    loser = (
        "case when da < db then va when db < da then vb "
        "else greatest(va, vb) end"
    )
    stats = (
        pairs.selectExpr(
            f"explode(array(struct(va as vec_id, "
            f"case when {loser} = va then 1 else 0 end as lost), "
            f"struct(vb as vec_id, "
            f"case when {loser} = vb then 1 else 0 end as lost))) as s"
        )
        .select("s.vec_id", "s.lost")
        .groupBy("vec_id")
        .agg(F.count("*").alias("n_dups"), F.max("lost").alias("lost"))
    )
    return base.join(stats, "vec_id", "left").select(
        "vec_id",
        "cluster",
        "dist",
        F.coalesce("n_dups", F.lit(0)).cast("int").alias("n_dups"),
        (1 - F.coalesce("lost", F.lit(0))).cast("int").alias("keep"),
    )
