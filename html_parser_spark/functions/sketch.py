"""Deterministic distinct-count sketching (HyperLogLog) as pure DataFrame
aggregation — the cardinality primitive a 100 TB profiling pass needs.

Spark's own `approx_count_distinct` is HLL too, but its hash (xxhash64 of
the internal binary layout) and its bias-correction tables are
engine-private: no external oracle can reproduce the estimate, so a gate
can only bound it. This implementation derives EVERY bit from `md5` of
the key string — the same portable hash the rest of the repo uses — so an
ANSI-SQL oracle recomputes the sketch register-for-register and the gate
compares exactly, not approximately.

Register layout (m = 256 registers):
  h            = md5(key)                    (32 hex chars, both engines)
  register j   = value of hex chars 1..2     (0..255)
  rho          = 1 + leading zero BITS of hex chars 3..16 (56 bits),
                 i.e. 4*z + nlz(first nonzero nibble) + 1; 57 if all zero
  M[j]         = max rho seen in register j  (map-side combinable max)

Estimator (Flajolet et al. 2007), made integer-exact for the oracle:
  S            = sum over all 256 registers of 2^(RHO_CAP - min(M[j],
                 RHO_CAP)) as a BIGINT (absent registers contribute
                 2^RHO_CAP each); RHO_CAP=40 keeps S < 2^48 — no
                 overflow, no float fold-order sensitivity.
  raw          = alpha_256 * m^2 * 2^RHO_CAP / S      (alpha_256 =
                 0.7213/(1+1.079/m)) — one double division over exact
                 integers: bit-identical in any engine.
  linear range = when raw <= 2.5*m and some register is empty:
                 m * ln(m/V) with V = empty registers (small-range
                 correction). `ln` is NOT cross-engine bit-stable (18 of
                 the 256 possible inputs differ by 1 ulp between the JVM
                 and DuckDB — measured), so the gate surface exposes the
                 estimate ROUNDED to integer: every possible linear value
                 sits >=0.004 from a rounding boundary, so the rounded
                 BIGINT is provably engine-identical.

Scale posture: stage 1 is groupBy(group, register) max(rho) — partial
aggregation runs map-side, so each executor ships at most
groups x 256 rows regardless of input size; stage 2 reduces 256 rows per
group. Total state per group is O(m). This is exactly why HLL is the
100 TB distinct-count operator: the full shuffle of a COUNT(DISTINCT)
never happens.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

M_REG = 256
RHO_CAP = 40
ALPHA_EXPR = "0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0)"

_HEXV = "(instr('0123456789abcdef', {c}) - 1)"


def _register_rho_exprs(key_expr: str) -> tuple[str, str]:
    """(register, rho) SQL expressions over md5(key_expr)."""
    h = f"md5({key_expr})"
    reg = (
        f"{_HEXV.format(c=f'substr({h}, 1, 1)')} * 16 + "
        f"{_HEXV.format(c=f'substr({h}, 2, 1)')}"
    )
    rest = f"substr({h}, 3, 14)"
    z = f"length(regexp_extract({rest}, '^0*', 0))"
    nib = _HEXV.format(c=f"substr({rest}, {z} + 1, 1)")
    # leading zero bits inside the first nonzero nibble (8..f->0, 4..7->1,
    # 2..3->2, 1->3); all-56-bits-zero -> rho = 57
    rho = (
        f"case when {z} = 14 then 57 else cast(4 * {z} + "
        f"(case when {nib} >= 8 then 0 when {nib} >= 4 then 1 "
        f"when {nib} >= 2 then 2 else 3 end) + 1 as int) end"
    )
    return reg, rho


def hll_distinct(
    df: DataFrame,
    key_expr: str,
    group_cols: Optional[Sequence[str]] = None,
    with_exact: bool = True,
) -> DataFrame:
    """HLL distinct-count of `key_expr` per `group_cols` (global if None).

    Output: group cols + (n_reg int, v_zero int, s_fold bigint,
    raw_est double, est_rounded bigint[, exact_distinct bigint]) —
    raw_est is the pure-arithmetic HLL estimate (bit-exact cross-engine);
    est_rounded applies the small-range linear-counting correction and
    rounds (see module docstring for why rounding is on the surface).
    """
    groups = list(group_cols or [])
    reg, rho = _register_rho_exprs(key_expr)
    regs = df.selectExpr(
        *groups, f"cast({reg} as int) as _reg", f"{rho} as _rho"
    ).groupBy(*groups, "_reg")
    per_reg = regs.agg(F.expr(f"least(max(_rho), {RHO_CAP})").alias("_mrho"))
    out = fold_registers(per_reg, groups)
    if with_exact:
        exact = df.selectExpr(*groups, f"{key_expr} as _k").groupBy(*groups).agg(
            F.expr("cast(count(distinct _k) as bigint)").alias("exact_distinct")
        )
        join_on = groups if groups else None
        out = out.join(exact, on=join_on) if join_on else out.crossJoin(exact)
    return out


def fold_registers(per_reg: DataFrame, groups: Sequence[str]) -> DataFrame:
    """Estimator stage over a (groups..., _reg, _mrho) register table —
    shared by the batch path above and the streaming register states
    (streaming/sketch_stream.hll_estimate_from_registers)."""
    groups = list(groups)
    folded = per_reg.groupBy(*groups).agg(
        F.expr("cast(count(*) as int)").alias("n_reg"),
        F.expr(
            f"cast(sum(shiftleft(cast(1 as bigint), {RHO_CAP} - _mrho)) "
            "as bigint)"
        ).alias("_s_present"),
    )
    out = folded.selectExpr(
        *groups,
        "n_reg",
        f"cast({M_REG} - n_reg as int) as v_zero",
        f"cast(_s_present + cast({M_REG} - n_reg as bigint) * "
        f"shiftleft(cast(1 as bigint), {RHO_CAP}) as bigint) as s_fold",
    ).selectExpr(
        *groups,
        "n_reg",
        "v_zero",
        "s_fold",
        f"{ALPHA_EXPR} * {float(M_REG)}e0 * {float(M_REG)}e0 * "
        f"cast(shiftleft(cast(1 as bigint), {RHO_CAP}) as double) "
        "/ cast(s_fold as double) as raw_est",
    ).selectExpr(
        *groups,
        "n_reg",
        "v_zero",
        "s_fold",
        "raw_est",
        f"cast(round(case when raw_est <= 2.5e0 * {float(M_REG)}e0 "
        f"and v_zero > 0 then {float(M_REG)}e0 * "
        f"ln({float(M_REG)}e0 / cast(v_zero as double)) "
        "else raw_est end) as bigint) as est_rounded",
    )
    return out


# ---------------------------------------------------------------------------
# Count-Min sketch — additive frequency estimation
# ---------------------------------------------------------------------------
# The other fixed-state profiling primitive: d x w counters, increment at
# (i, hash_i(key)) per occurrence, estimate = min over rows. Counters are
# SUMS, so the sketch is map-side combinable and merge = add — the 100 TB
# shape (state is d*w cells per executor regardless of input size; the
# shuffle carries <= d*w rows). Every cell derives from md5, so the oracle
# rebuilds the sketch cell-for-cell and the gate compares exactly —
# including the OVERestimates where buckets collide (overestimate-only is
# the CM guarantee; with w=16 the gate corpus actually collides).

CM_D = 4


def _cm_bucket(term: str, row: str, hex_chars: int) -> str:
    """Bucket of `term` under hash row `row` (md5-derived, 16^hex_chars
    buckets; row index is salted into the hash input)."""
    return (
        f"cast(conv(substr(md5(concat({term}, '#', {row})), 1, {hex_chars}), "
        "16, 10) as int)"
    )


def countmin_cells(df: DataFrame, term_expr: str, hex_chars: int = 1) -> DataFrame:
    """Build the sketch: (hrow int, bucket int, cnt bigint), one increment
    per input ROW (occurrence counting — pre-aggregate upstream for
    distinct counting). CM_D*16^hex_chars cells max."""
    buckets = (
        f"transform(sequence(0, {CM_D - 1}), "
        f"i -> {_cm_bucket('_t', 'i', hex_chars)})"
    )
    return (
        df.selectExpr(f"{term_expr} as _t")
        .selectExpr(f"posexplode({buckets}) as (hrow, bucket)")
        .groupBy("hrow", "bucket")
        .agg(F.expr("cast(count(*) as bigint)").alias("cnt"))
    )


def countmin_estimate(
    cells: DataFrame, probes: DataFrame, hex_chars: int = 1
) -> DataFrame:
    """Estimate each probe `term`'s count: min over the CM_D cells it
    hashes to. The tiny probe side fans out to CM_D rows and joins the
    (broadcast) sketch — the corpus is never touched again."""
    keep = [c for c in probes.columns if c != "term"]
    p = probes.selectExpr(
        "term",
        *keep,
        f"posexplode(transform(sequence(0, {CM_D - 1}), "
        f"i -> {_cm_bucket('term', 'i', hex_chars)})) as (hrow, bucket)",
    )
    joined = p.join(F.broadcast(cells), on=["hrow", "bucket"], how="left")
    return joined.groupBy("term", *keep).agg(
        F.expr("cast(min(coalesce(cnt, 0)) as bigint)").alias("est")
    )


# ---------------------------------------------------------------------------
# Bloom filter — broadcastable set membership
# ---------------------------------------------------------------------------
# The third fixed-state primitive: k md5-derived bit positions per key,
# bit_or-folded into a handful of int64 words. bit_or is commutative and
# duplicate-absorbing, so the build is map-side combinable and the whole
# filter is O(words) bytes — it BROADCASTS, turning "which corpus rows hit
# this reference set" from a shuffle join into a map-side probe (false
# positives only, never false negatives; the gate pins both counts against
# the exact join). 60 bits per word, not 64: DuckDB's `<<` raises on a
# 63-bit shift, and the oracle must rebuild the words bit-for-bit.

BLOOM_K = 4
BLOOM_BITS = 60
BLOOM_WORDS = 16
BLOOM_M = BLOOM_BITS * BLOOM_WORDS  # 960 positions


def _bloom_pos(key: str, row: str) -> str:
    """Bit position (0..M-1) of `key` under hash row `row`."""
    return (
        f"pmod(cast(conv(substr(md5(concat({key}, '@', {row})), 1, 3), "
        f"16, 10) as int), {BLOOM_M})"
    )


def bloom_build(df: DataFrame, key_expr: str) -> DataFrame:
    """Fold a key column into the filter: (word_idx int, bits bigint),
    <= BLOOM_WORDS rows."""
    positions = (
        f"transform(sequence(0, {BLOOM_K - 1}), "
        f"i -> {_bloom_pos('_k', 'i')})"
    )
    return (
        df.selectExpr(f"{key_expr} as _k")
        .selectExpr(f"explode({positions}) as pos")
        .selectExpr(
            f"cast(pos div {BLOOM_BITS} as int) as word_idx",
            f"shiftleft(cast(1 as bigint), pos % {BLOOM_BITS}) as bit",
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )


def bloom_probe(df: DataFrame, key_col: str, bloom: DataFrame) -> DataFrame:
    """Per input row: `bloom_hit` = 1 iff ALL k bits of `key_col` are set
    (possible false positive, never a false negative). The <=16 filter
    words collapse into ONE broadcast map row and the k-bit test is a
    ROW-LOCAL `forall` — no posexplode, no join, no groupBy. (The
    previous form exploded k rows per key and re-grouped them on every
    input column: a k-fold Exchange per probe that VERDICT r03 #4 timed
    as the dominant cost of sketch_bloom_decontaminate.)"""
    bmap = bloom.agg(
        F.expr(
            "map_from_entries(collect_list(struct(word_idx, bits))) as _bm"
        )
    )
    hit = (
        f"forall(transform(sequence(0, {BLOOM_K - 1}), "
        f"i -> {_bloom_pos(key_col, 'i')}), "
        f"p -> (shiftright(coalesce(_bm[cast(p div {BLOOM_BITS} as int)], "
        f"cast(0 as bigint)), p % {BLOOM_BITS}) % 2) != 0)"
    )
    return df.crossJoin(F.broadcast(bmap)).selectExpr(
        *df.columns, f"cast(case when {hit} then 1 else 0 end as int) as bloom_hit"
    )


# ---------------------------------------------------------------------------
# Fixed-bin histogram quantiles — the SCALE path for percentiles
# ---------------------------------------------------------------------------
# The exact order-statistic query (q_events_quantiles) sorts every group —
# correct, but a per-group sort of 10^12 rows is the thing you avoid. Bin
# counts are ADDITIVE: one map-side-combinable groupBy builds <= n_bins
# cells per group, merge = add, and any quantile reads off the cumulative
# histogram with error bounded by one bin width. Fixed data-independent
# bin edges keep it deterministic (and trivially merge-able across days/
# partitions/clusters — the property t-digest style sketches trade away).

HIST_BIN_CENTS = 100  # $1 bins
HIST_N_BINS = 1024
HIST_PERMILLE = (500, 900, 990)  # the hq{p}_cents columns


def histogram_quantiles(
    df: DataFrame, cents_expr: str, group_cols: Sequence[str]
) -> DataFrame:
    """Per-group histogram quantiles of an integer-cents expression.
    Output: group cols + n (bigint) + hq{p}_cents (bigint, the UPPER EDGE
    of the bin where the p-permille order statistic falls — within one
    bin width of the exact value). Values beyond the histogram range
    clamp into the first/last bin (negatives included — bin edges never
    overlap)."""
    from pyspark.sql import Window

    groups = list(group_cols)
    # clamp BOTH ends: negative values would otherwise produce negative
    # bins via truncating div (overlapping edges around zero)
    binned = df.selectExpr(
        *groups,
        f"greatest(least(cast(({cents_expr}) div {HIST_BIN_CENTS} as int), "
        f"{HIST_N_BINS - 1}), 0) as bin",
    )
    cells = binned.groupBy(*groups, "bin").agg(
        F.expr("cast(count(*) as bigint)").alias("cnt")
    )
    wg = Window.partitionBy(*groups)
    cum = cells.withColumn(
        "cum",
        F.sum("cnt").over(wg.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("n", F.sum("cnt").over(wg))
    aggs = [F.expr("cast(max(n) as bigint)").alias("n")]
    for p in HIST_PERMILLE:
        target = f"(({p} * n) + 999) div 1000"
        aggs.append(
            F.expr(
                f"cast(min(case when cum >= {target} then "
                f"cast((bin + 1) * {HIST_BIN_CENTS} as bigint) end) as bigint)"
            ).alias(f"hq{p}_cents")
        )
    return cum.groupBy(*groups).agg(*aggs)
