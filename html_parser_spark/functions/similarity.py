"""Approximate-nearest-neighbor search over an embedding column
(array<float>), JVM-side only:

  - brute_force_topk: exact cosine top-k per query — the correctness
    baseline. Cross join is bounded by the query set (broadcast the queries,
    never the corpus), so at 100 TB the cost is corpus-linear per query.
  - hyperplane_lsh_topk: random-hyperplane LSH (SimHash-for-vectors,
    Charikar 2002): bucket on the sign pattern of P fixed hyperplane dot
    products, search only the query's bucket. The scale path: candidates
    per query shrink ~2^P-fold; the bucket join is a hash equi-join.

All cosine math is a deterministic left-fold (aggregate over zip_with), so a
DuckDB oracle using the same fold order reproduces every double BIT-EXACTLY
(verified) — the gate compares float values without tolerance.

Hyperplane components are derived from md5 (deterministic, engine-free) and
inlined as literals on both the Spark and SQL sides.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 6  # 64 buckets: ~sqrt(corpus) occupancy at the test SFs
DIM = 64
N_QUERIES = 10  # queries = vec_id < N_QUERIES
TOP_K = 5

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "cast(0.0 as double), (acc, v) -> acc + v)"
)
_NORM2 = (
    "aggregate(transform({a}, x -> cast(x as double) * cast(x as double)), "
    "cast(0.0 as double), (acc, v) -> acc + v)"
)


def cosine_expr(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / "
        f"(sqrt({_NORM2.format(a=a)}) * sqrt({_NORM2.format(a=b)}))"
    )


@lru_cache(maxsize=None)
def hyperplanes() -> tuple[tuple[float, ...], ...]:
    """Deterministic pseudo-random hyperplanes: component (j, d) =
    ((md5("j_d") first-32-bits) mod 2001 - 1000) / 1000 — exact thousandths,
    so the decimal literals parse to identical doubles in every engine."""
    planes = []
    for j in range(N_PLANES):
        row = []
        for d in range(DIM):
            h = int(hashlib.md5(f"{j}_{d}".encode()).hexdigest()[:8], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(tuple(row))
    return tuple(planes)


def plane_sql_literal(plane: tuple[float, ...]) -> str:
    return "array(" + ", ".join(f"cast({v!r} as double)" for v in plane) + ")"


def lsh_bucket_expr(col: str) -> str:
    """Bucket id = sum_j (dot(v, plane_j) > 0) << j, as a single expression."""
    terms = []
    for j, plane in enumerate(hyperplanes()):
        dot = _DOT.format(a=col, b=plane_sql_literal(plane))
        terms.append(f"(case when {dot} > cast(0.0 as double) then {1 << j}L else 0L end)")
    return " + ".join(terms)


def _ranked_topk(pairs: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def brute_force_topk(embs: DataFrame) -> DataFrame:
    """Exact top-k: (query_id, neighbor_id, rank, cos). Queries = vec_id <
    N_QUERIES; ties broken by neighbor_id. The query side is broadcast —
    the corpus is scanned once, no shuffle of the big side before the window."""
    q = F.broadcast(
        embs.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
    )
    pairs = (
        embs.join(q, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(cosine_expr("q_emb", "embedding")).alias("cos"),
        )
    )
    return _ranked_topk(pairs, TOP_K)


N_IVF_CELLS = 16


def ivf_assign(embs: DataFrame) -> DataFrame:
    """IVF coarse quantization with deterministic centroids: the first
    N_IVF_CELLS vectors (vec_id < N_IVF_CELLS) act as centroids (a k-means
    seeding step stands in for trained centroids — deterministic and
    oracle-exact); every vector is assigned to its max-cosine centroid
    (ties -> lowest centroid id). Adds a `cell` column."""
    cents = F.broadcast(
        embs.where(F.col("vec_id") < N_IVF_CELLS).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb")
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cent_cos"), F.asc("cent_id"))
    return (
        embs.join(cents)
        .select(
            "vec_id",
            "embedding",
            "cent_id",
            F.expr(cosine_expr("embedding", "cent_emb")).alias("cent_cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "embedding", F.col("cent_id").alias("cell"))
    )


def ivf_topk(embs: DataFrame) -> DataFrame:
    """IVF ANN top-k: search only the query's cell (nprobe=1). The inverted
    lists bound candidate count to ~corpus/N_IVF_CELLS per query — the
    clustered-index scale path next to the hyperplane-LSH one."""
    assigned = ivf_assign(embs)
    q = F.broadcast(
        assigned.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("cell").alias("q_cell"),
        )
    )
    pairs = assigned.join(
        q, (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("query_id"))
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(cosine_expr("q_emb", "embedding")).alias("cos"),
    )
    return _ranked_topk(pairs, TOP_K)


def hyperplane_lsh_topk(embs: DataFrame) -> DataFrame:
    """LSH-bucketed ANN top-k, same output shape as brute_force_topk but
    searching only the query's hyperplane bucket (recall < 1 by design)."""
    bucketed = embs.withColumn("bucket", F.expr(lsh_bucket_expr("embedding")))
    q = F.broadcast(
        bucketed.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("bucket").alias("q_bucket"),
        )
    )
    pairs = (
        bucketed.join(
            q,
            (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(cosine_expr("q_emb", "embedding")).alias("cos"),
        )
    )
    return _ranked_topk(pairs, TOP_K)


# ---------------------------------------------------------------------------
# int8 scalar quantization + quantized (symmetric) ANN search
# ---------------------------------------------------------------------------

INT8_MAX = 127
Q_HASH_P = 1_000_000_007


def maxabs_expr(col: str) -> str:
    """Per-vector max |component| as a double (order-independent, so a
    list_max oracle reproduces the fold exactly)."""
    return (
        f"aggregate({col}, cast(0.0 as double), "
        "(acc, x) -> greatest(acc, abs(cast(x as double))))"
    )


def quantize_int8(embs: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the memory-scale
    path for vector search: codes take 8 bits/dim instead of 32, so a
    100 TB embedding corpus's index shrinks 4x (and the hot search loop
    becomes integer arithmetic). code_d = round_half_up(v_d * 127 / max|v|)
    in [-127, 127]; reconstruct as codes * scale with scale = max|v|/127.

    Determinism: rounding is floor(x + 0.5) in double — identical in every
    engine (no round() half-even/away divergence); max|v| is
    order-independent. A zero vector quantizes to all-zero codes with
    scale 0 (no NaN path). max|v| is hoisted into a column BEFORE the
    transform lambda — referencing the fold inside the lambda would
    re-evaluate it per element (the O(d^2) lambda trap).

    Output: (vec_id, codes array<bigint>, scale double, code_hash) —
    code_hash is a base-31 mod-p left fold over the codes so an oracle
    pins every element, not just aggregates."""
    mx = maxabs_expr("embedding")
    codes = (
        "case when mx = cast(0.0 as double) then transform(embedding, x -> 0L) "
        "else transform(embedding, x -> cast(floor(cast(x as double) "
        f"* cast({INT8_MAX}.0 as double) / mx + cast(0.5 as double)) as bigint)) end"
    )
    return (
        embs.withColumn("mx", F.expr(mx))
        .withColumn("codes", F.expr(codes))
        .select(
            "vec_id",
            "codes",
            F.expr(f"mx / cast({INT8_MAX}.0 as double)").alias("scale"),
            F.expr(
                f"aggregate(codes, 0L, (acc, c) -> "
                f"pmod(acc * 31 + c + {Q_HASH_P}, {Q_HASH_P}))"
            ).alias("code_hash"),
        )
    )


_IDOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"


def quantized_cos_expr(a: str, b: str) -> str:
    """Cosine over int8 code vectors: the dot and both norms are EXACT
    int64 sums (|code| <= 127, dim 64: max 127^2*64 ~ 1e6, no overflow),
    cast to double only for the final divide — bit-identical across
    engines with no fold-order sensitivity."""
    return (
        f"cast({_IDOT.format(a=a, b=b)} as double) / "
        f"(sqrt(cast({_IDOT.format(a=a, b=a)} as double)) * "
        f"sqrt(cast({_IDOT.format(a=b, b=b)} as double)))"
    )


def quantized_topk(
    embs: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    """Top-k by SYMMETRIC quantized cosine (both sides int8): the scale
    path where the corpus index holds only codes — 4x less memory traffic
    than float32 and integer dot products in the hot loop; full-precision
    re-ranking can follow on the k survivors. Same broadcast-the-queries
    shape as brute_force_topk (corpus scanned once, never shuffled for
    the join). Output: (query_id, neighbor_id, rank, qcos)."""
    quant = quantize_int8(embs).select("vec_id", "codes")
    q = F.broadcast(
        quant.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("codes").alias("q_codes")
        )
    )
    pairs = quant.join(q, F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(quantized_cos_expr("q_codes", "codes")).alias("cos"),
    )
    return _ranked_topk(pairs, k).withColumnRenamed("cos", "qcos")
