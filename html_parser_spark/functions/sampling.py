"""Deterministic sampling for training-data mixes.

Pretraining pipelines weight sources (web vs wiki vs code ...) by sampling
each stratum at its own rate. `stratified_sample` does this with a
HASH-derived keep decision instead of an RNG:

  keep row  iff  pmod(h(doc_id), 1000) < permille(row)

where h is the engine's md5-derived 32-bit word hash (functions/text.py) —
so the sample is (a) deterministic and engine-portable (an ANSI-SQL oracle
reproduces it row-for-row, unlike Spark's `sampleBy` RNG), (b) stable
under re-runs and resumes (the same doc is kept or dropped forever —
lineage-friendly), and (c) consistent across strata definitions (changing
a rate only adds/removes docs at the margin, it never reshuffles the kept
set). The filter is a narrow projection — no shuffle, full column pruning.

At 100 TB: sampling-before-extraction prunes work proportionally; the
predicate rides the scan stage (md5 per row is JVM-side codegen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import WORD_HASH


def keep_bucket_expr() -> str:
    """The 0..999 sampling bucket of a row's doc_id (md5-derived,
    engine-portable)."""
    h = WORD_HASH.format(w="cast(doc_id as string)")
    return f"pmod({h}, 1000)"


def stratified_sample(df: DataFrame, permille_expr: str) -> DataFrame:
    """Keep each row iff its hash bucket < `permille_expr` (any SQL
    expression over the row, e.g. a CASE over `source` or a map lookup —
    0 drops the stratum, 1000 keeps all of it)."""
    return df.where(F.expr(f"{keep_bucket_expr()} < ({permille_expr})"))


# ---------------------------------------------------------------------------
# Token-budget corpus mixing (data recipes: source weighting with epochs)
# ---------------------------------------------------------------------------

MIX_UNIT = 1_000_000  # sampling rates carried in integer millionths


def corpus_mix(
    docs: DataFrame,
    weights: dict[str, int],
    token_budget: int,
) -> DataFrame:
    """Deterministic token-budget corpus mixing — the data-recipe step of a
    pretraining pipeline: give each source a target share of the token
    budget (`budget * w_s / sum(w)`) and emit the document (multi)set that
    realizes it, DOWN-sampling over-represented sources and UP-sampling
    (repeating docs across epochs) under-represented ones.

    Per source: rate_ppm = floor(budget * w_s * 1e6 / (sum(w) * tokens_s)).
    Per doc: n_copies = rate_ppm div 1e6, plus 1 when the doc's md5-derived
    bucket (uniform in [0, 1e6)) falls below the fractional part — so
    expected emitted tokens hit the source's share exactly, and the
    realized set is RNG-free: stable under re-runs/resumes, reproducible
    by an ANSI-SQL oracle row-for-row, and margin-stable under weight
    changes (same hash-keep property as stratified_sample). All arithmetic
    is integer (ppm), so engines agree bit-for-bit.

    Output: one row per emitted copy — (doc_id, source, copy_idx 1..n,
    n_tokens, rate_ppm).

    Scale shape: token counting is a narrow projection; per-source totals
    are ONE map-side-combinable groupBy whose result has |sources| rows;
    the rate table re-joins via broadcast; the copy decision is row-local
    codegen; explode only fires where n_copies > 1. No window, no global
    sort, no per-source skew (the heavy side never shuffles)."""
    spark = docs.sparkSession
    wsum = sum(weights.values())
    wdf = spark.createDataFrame(
        [(s, int(w)) for s, w in weights.items()],
        "source string, w bigint",
    )
    toks = docs.select(
        "doc_id",
        "source",
        F.expr("cast(size(split(text, ' ')) as bigint)").alias("n_tokens"),
    )
    totals = toks.groupBy("source").agg(F.sum("n_tokens").alias("total_tokens"))
    rates = (
        totals.join(wdf, "source")
        .where(F.col("total_tokens") > 0)
        .select(
            "source",
            F.expr(
                f"(cast({int(token_budget)} as bigint) * w * {MIX_UNIT}) "
                f"div (cast({int(wsum)} as bigint) * total_tokens)"
            ).alias("rate_ppm"),
        )
    )
    bucket = WORD_HASH.format(w="cast(doc_id as string) || ':' || source")
    return (
        toks.join(F.broadcast(rates), "source")
        .withColumn(
            "n_copies",
            F.expr(
                f"rate_ppm div {MIX_UNIT} + (case when pmod({bucket}, {MIX_UNIT}) "
                f"< rate_ppm % {MIX_UNIT} then 1 else 0 end)"
            ),
        )
        .where(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "source",
            F.explode(F.expr("sequence(cast(1 as bigint), n_copies)")).alias(
                "copy_idx"
            ),
            "n_tokens",
            "rate_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Hashed n-gram importance resampling (DSIR-shaped data selection)
# ---------------------------------------------------------------------------

IMP_UNIT = 1_000_000  # bucket weights carried in integer millionths
IMP_CLAMP = 1_000_000_000_000  # overflow guard: w <= 1e12 keeps doc sums in int64
N_BUCKETS = 256  # hashed-bigram buckets


def _bigram_buckets() -> str:
    """SQL expr: the hashed-bigram bucket array of `text`.
    zip_with over two slices, NOT transform-with-indexing (the CLAUDE.md
    O(n^2) re-evaluation trap); empty words from repeated spaces dropped."""
    ws = "filter(split(text, ' '), x -> x != '')"
    grams = (
        f"case when size({ws}) < 2 then array() else "
        f"zip_with(slice({ws}, 1, size({ws}) - 1), "
        f"slice({ws}, 2, size({ws}) - 1), (a, b) -> concat(a, ' ', b)) end"
    )
    h = WORD_HASH.format(w="g")
    return f"transform({grams}, g -> cast(pmod({h}, {N_BUCKETS}) as int))"


def importance_weights(docs: DataFrame, target_expr: str) -> DataFrame:
    """Per-bucket importance weights in the DSIR shape (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    hash every word bigram into N_BUCKETS buckets, count OCCURRENCES on
    the target side (`target_expr` rows) and the raw side (the rest), and
    weight each bucket by the Laplace-smoothed count ratio in integer
    micro units:

        w[b] = least(1e6 * (c_t[b] + 1) div (c_r[b] + 1), 1e12)

    The global N_t/N_r normalizations of the true probability ratio are
    bucket-independent constant factors, so dropping them rescales every
    doc score equally and preserves the resampling ORDER exactly — which
    is what lets the weight stay exact int64 (engine-portable: an ANSI
    oracle reproduces it bit-for-bit, no log/float). The clamp bounds a
    zero-raw-count blowup so a 1e5-gram doc sum stays far inside int64.

    Output: (bucket int, c_target bigint, c_raw bigint, w bigint),
    <= N_BUCKETS rows.

    Scale shape: ONE map-side-combinable shuffle — explode collapses to
    <= N_BUCKETS cells per task before the exchange; both sides counted
    in the same aggregation (no second corpus pass, no join)."""
    return (
        docs.selectExpr(
            f"case when ({target_expr}) then 1 else 0 end as is_target",
            f"explode({_bigram_buckets()}) as bucket",
        )
        .groupBy("bucket")
        .agg(
            F.expr("sum(is_target)").alias("c_target"),
            F.expr("sum(1 - is_target)").alias("c_raw"),
        )
        .selectExpr(
            "bucket",
            "cast(c_target as bigint) as c_target",
            "cast(c_raw as bigint) as c_raw",
            f"least({IMP_UNIT} * (c_target + 1) div (c_raw + 1), "
            f"cast({IMP_CLAMP} as bigint)) as w",
        )
    )


def importance_score(
    docs: DataFrame,
    weights: DataFrame,
    keep_cols: tuple = ("source",),
) -> DataFrame:
    """Per-doc importance score: the sum of bucket weights over the doc's
    bigram occurrences. The <= N_BUCKETS weights collapse into ONE
    broadcast map row and the sum is a ROW-LOCAL `aggregate` fold — the
    corpus never shuffles (the bloom-probe shape from functions/sketch).
    A bucket absent from the weight table scores the neutral
    1e6 = (0+1)/(0+1), so a weight table estimated on one corpus can
    score a DIFFERENT (bigger) corpus — the actual DSIR deployment, where
    weights come from a held-out slice and selection runs over the full
    raw crawl. Zero-gram docs score 0."""
    wmap = weights.agg(
        F.expr("map_from_entries(collect_list(struct(bucket, w))) as _wm")
    )
    score = (
        f"aggregate({_bigram_buckets()}, "
        f"cast(0 as bigint), (acc, b) -> acc + "
        f"coalesce(_wm[b], cast({IMP_UNIT} as bigint)))"
    )
    n_grams = f"size({_bigram_buckets()})"
    return docs.crossJoin(F.broadcast(wmap)).selectExpr(
        "doc_id",
        *keep_cols,
        f"cast({n_grams} as int) as n_grams",
        f"cast({score} as bigint) as score",
    )


def importance_resample(
    docs: DataFrame,
    target_expr: str,
    top_k: int,
) -> DataFrame:
    """Deterministic DSIR-shaped selection: estimate bucket weights from
    `target_expr` vs the rest, score every doc, keep the `top_k` most
    target-like docs (score DESC, doc_id ASC tie-break — RNG-free, so
    re-runs and the SQL oracle agree row-for-row; DSIR's gumbel-noise
    variant trades that determinism for diversity). The top-k is a
    TakeOrdered (no global sort materialization); the rank window runs
    over the k survivors only, never the corpus."""
    scored = importance_score(docs, importance_weights(docs, target_expr))
    topk = scored.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(int(top_k))
    from pyspark.sql import Window

    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return topk.withColumn("rank", F.row_number().over(w).cast("int"))


def chunk_windows(
    docs: DataFrame,
    window: int = 16,
    stride: int = 12,
) -> DataFrame:
    """Sliding-window document chunking — the context-window prep that
    long-document training runs use (stride < window gives overlap so no
    boundary context is lost): (doc_id, chunk_idx int, n_tokens int,
    chunk string). Chunks are word-aligned; the last window starts at the
    final stride step that still adds words, so every word appears in
    >=1 chunk and no chunk is empty (a doc shorter than `window` yields
    exactly one chunk). Pure JVM transform-over-sequence + posexplode —
    the explode is the output, not an intermediate; no shuffle."""
    assert 0 < stride <= window
    w = "split(text, ' ')"
    n_chunks = (
        f"1 + greatest(div(size({w}) - {window} + {stride} - 1, {stride}), 0)"
    )
    chunks = (
        f"transform(sequence(0, {n_chunks} - 1), "
        f"i -> array_join(slice({w}, i * {stride} + 1, {window}), ' '))"
    )
    return docs.selectExpr(
        "doc_id", f"posexplode({chunks}) as (chunk_idx, chunk)"
    ).selectExpr(
        "doc_id",
        "cast(chunk_idx as int) as chunk_idx",
        "cast(size(split(chunk, ' ')) as int) as n_tokens",
        "chunk",
    )
