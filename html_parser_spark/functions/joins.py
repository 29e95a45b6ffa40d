"""Time-series join operators Spark lacks as built-ins: as-of join and
banded range (proximity) join.

The reference engine is a pure parser (no joins at all); these are the
time-join primitives a training-data/event pipeline needs, expressed as
compositions of native DataFrame ops so Catalyst/Tungsten keep the whole
plan JVM-side — no Python crossing, no cartesian product.

As-of join (`asof_join`): for every left row, the LATEST right row of the
same key with right.ts <= left.ts ("backward" direction, the pandas
`merge_asof` / kdb `aj` semantics). Implemented as the UNION-WINDOW plan:

    union(left tagged 1, right tagged 0)
      -> window partitionBy(key) orderBy(ts, tag)
      -> last(right_col, ignorenulls=True) over rows unbounded..current
      -> keep tag=1 rows

One shuffle total (the window Exchange on key), versus two for a
sort-merge equi-join formulation — and unlike a naive
`l JOIN r ON l.key = r.key AND r.ts <= l.ts` + max() there is NO
intermediate pair blowup: state per row is O(right_cols). At 100 TB the
shuffle is keyed on the join key, so hot keys (one user = one partition's
window chain) are the skew surface — same mitigation as any keyed window
(split megakeys upstream); ordinary user-keyed event streams are fine.

Range join (`range_join_count`): count right rows of the same key with
ts in [left.ts - window, left.ts]. The scale plan is BANDING, not an
inequality join: right rows are duplicated into the two fixed-width time
bands they can serve, then a plain equi-join on (key, band) + an exact
interval filter. Join fan-out is bounded (2x right), both sides shuffle
once on (key, band), and band width = the query window keeps each
band-pair small. A Catalyst inequality join here would fall back to
BroadcastNestedLoopJoin (cartesian per key) — the thing that dies at 100x.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

US_PER_SEC = 1_000_000


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_cols: Optional[Sequence[str]] = None,
    tolerance_secs: Optional[int] = None,
) -> DataFrame:
    """Backward as-of join: every `left` row gains `asof_`-named copies of
    `right_cols` (plus `asof_ts`) from the latest right row with
    right.ts <= left.ts and the same `on` key; null when no such row (or
    when it is older than `tolerance_secs`, if given).

    Equal timestamps MATCH (right sorts before left at a tie). Ties among
    several right rows at one (key, ts) are broken by the last right
    column's order in the union — callers with duplicate-ts right streams
    should pre-dedup; the gate data has none (checked at every sf).
    """
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, "ts")]
    out_cols = {c: "asof_" + c for c in right_cols}
    out_cols["ts"] = "asof_ts"

    l_tagged = left.withColumn("_asof_side", F.lit(1))
    r_tagged = right.select(
        F.col(on),
        F.col("ts").alias("asof_ts"),
        *[F.col(c).alias("asof_" + c) for c in right_cols],
        F.lit(0).alias("_asof_side"),
    )
    u = l_tagged.unionByName(r_tagged, allowMissingColumns=True)

    # right(0) before left(1) at equal ts => ties match; the ts ordering
    # key is coalesce(left ts, right ts) so both sides sort on one column
    order_ts = F.coalesce(F.col("ts"), F.col("asof_ts"))
    w = (
        Window.partitionBy(on)
        .orderBy(order_ts, F.col("_asof_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for out in out_cols.values():
        u = u.withColumn(out, F.last(out, ignorenulls=True).over(w))

    res = u.where(F.col("_asof_side") == 1).drop("_asof_side")
    if tolerance_secs is not None:
        age = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof_ts"))
        stale = age > F.lit(tolerance_secs * US_PER_SEC)
        for out in out_cols.values():
            res = res.withColumn(
                out, F.when(stale, F.lit(None)).otherwise(F.col(out))
            )
    return res


def range_join_count(
    left: DataFrame,
    right: DataFrame,
    on: str,
    window_secs: int,
    count_alias: str = "n_in_range",
) -> DataFrame:
    """For every `left` row, the number of `right` rows with the same `on`
    key and right.ts in [left.ts - window_secs, left.ts] (both ends
    inclusive). Left rows with no neighbors are kept with count 0.

    Banded equi-join: band width == window, each right row lands in its
    own band b and the next (b+1) — any left row it can serve lives in one
    of those two — so the join is a plain (key, band) hash join with exact
    micros filtering after. No inequality join, no per-key cartesian.

    Fully duplicate left rows each keep their own output row (the count
    re-group keys on a per-row id, not the column values).
    """
    w_us = window_secs * US_PER_SEC
    l_us = F.unix_micros(F.col("ts"))
    # per-row identity: grouping on the left columns alone would collapse
    # fully duplicate left rows into one row with a doubled count
    lb = left.withColumn("_lrow", F.monotonically_increasing_id()).withColumn(
        "_band", F.floor(l_us / F.lit(w_us))
    )

    r_us = F.unix_micros(F.col("ts"))
    rb = (
        right.select(
            F.col(on),
            r_us.alias("_r_us"),
            F.floor(r_us / F.lit(w_us)).alias("_b0"),
        )
        # posexplode-free 2-band duplication: a right row at band b serves
        # left rows in bands b (same) and b+1 (left up to `window` later)
        .withColumn("_band", F.explode(F.array(F.col("_b0"), F.col("_b0") + 1)))
        .drop("_b0")
    )

    dt = F.unix_micros(F.col("ts")) - F.col("_r_us")
    joined = lb.join(rb, on=[on, "_band"], how="left").withColumn(
        "_hit",
        F.when((dt >= 0) & (dt <= F.lit(w_us)), F.lit(1)).otherwise(F.lit(0)),
    )
    return (
        joined.groupBy("_lrow", *[F.col(c) for c in left.columns])
        .agg(F.sum("_hit").cast("int").alias(count_alias))
        .drop("_lrow")
        .na.fill({count_alias: 0})
    )
