"""Z-order (Morton curve) data layout — multi-dimensional clustering for
scan pruning.

A table sorted by one column prunes range predicates on that column only;
interleaving the BITS of two columns and sorting by the result clusters
rows so that file/bucket min-max ranges stay tight on BOTH dimensions —
the layout trick behind Delta/Iceberg OPTIMIZE ZORDER. At 100 TB this is
the difference between a point-predicate scan touching a handful of files
and touching all of them: the data files' min/max footer stats do the
pruning, no index needed.

Everything here is integer bit arithmetic — the oracle reproduces keys,
bucket assignment, and per-bucket stats exactly. Bucketing uses
row_number over the total (key, tiebreak) order, so the layout is fully
deterministic; at production scale the sort is Spark's range-partitioned
global sort (one shuffle) writing one file per bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

Z_BITS = 16


def zorder_key_expr(a: str, b: str) -> str:
    """Morton key of two non-negative int expressions (each clamped to
    Z_BITS wide): bit i of `a` lands at position 2i, of `b` at 2i+1."""
    ac = f"least(cast({a} as bigint), {(1 << Z_BITS) - 1})"
    bc = f"least(cast({b} as bigint), {(1 << Z_BITS) - 1})"
    return (
        f"aggregate(sequence(0, {Z_BITS - 1}), cast(0 as bigint), (acc, i) -> "
        f"acc + shiftleft(shiftright({ac}, i) & 1, 2 * i) "
        f"+ shiftleft(shiftright({bc}, i) & 1, 2 * i + 1))"
    )


def zorder_bucket_stats(
    df: DataFrame,
    a: str,
    b: str,
    tiebreak: str,
    n_buckets: int = 16,
) -> DataFrame:
    """Lay the table out in `n_buckets` equal slices of the Z-order sort
    and report each bucket's min/max on BOTH dimensions — the stats a
    file footer would carry. Tight ranges on both dims = pruning works.
    Output: (bucket int, n bigint, min_a, max_a, min_b, max_b bigint)."""
    keyed = df.selectExpr(
        f"cast({a} as bigint) as _a",
        f"cast({b} as bigint) as _b",
        f"{zorder_key_expr(a, b)} as _zkey",
        f"cast({tiebreak} as bigint) as _tb",
    )
    w = Window.orderBy("_zkey", "_tb")
    bucketed = keyed.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(Window.partitionBy())
    ).selectExpr(
        "_a", "_b",
        f"cast(((_rn - 1) * {n_buckets}) div _n as int) as bucket",
    )
    return bucketed.groupBy("bucket").agg(
        F.expr("cast(count(*) as bigint)").alias("n"),
        F.expr("cast(min(_a) as bigint)").alias("min_a"),
        F.expr("cast(max(_a) as bigint)").alias("max_a"),
        F.expr("cast(min(_b) as bigint)").alias("min_b"),
        F.expr("cast(max(_b) as bigint)").alias("max_b"),
    )


def buckets_hit(stats: DataFrame, dim: str, value: int) -> int:
    """How many buckets a point predicate on `dim` ('a' or 'b') would
    touch given the layout's min-max stats (driver-side over n_buckets
    rows — control plane, not data plane)."""
    return stats.where(
        (F.col(f"min_{dim}") <= value) & (F.col(f"max_{dim}") >= value)
    ).count()
