"""Composed training-data pipeline: extraction -> document reassembly ->
quality gate -> exact-dedup survivor manifest, as ONE Spark plan.

This is the end-to-end shape a pretraining-data run takes (the north_star's
point: operators must COMPOSE without materialization): the only wide
operation in the whole pipeline is the final dedup groupBy — extraction is
the single mapInArrow crossing, reassembly and the quality gate are narrow
JVM projections fused into the post-crossing stage, and the group-by is
map-side combinable. At 100 TB this runs as scan -> kernel -> project/
filter -> one exchange.

Stage reuse, not reimplementation: the quality gate IS functions/text.quality
(same expressions, same thresholds) and the grouping mirrors
functions/dedup.exact_groups; the gate query's DuckDB oracle reconstructs
the whole composition from first principles (the `pipeline_clean_corpus`
record in registry/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import quality
from .extract import extract_spans


def reassembled_documents(df_extracted: DataFrame) -> DataFrame:
    """Extraction output -> (doc_id: long, text): the document's text spans
    re-joined in span order with single spaces — the 'clean text' view a
    tokenizer consumes. Error/divergent docs are dropped (their spans are
    partial by contract). Narrow projection, no shuffle."""
    return df_extracted.where(F.col("status") == "ok").select(
        # numeric ids: survivor selection below must be the NUMERIC min
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(
            "array_join(transform(filter(spans, s -> s.kind = 'text'), "
            "s -> s.text), ' ')"
        ).alias("text"),
    )


def clean_corpus(interleaved: DataFrame) -> DataFrame:
    """Interleaved docs -> deduplicated quality-passing corpus manifest:
    (text_md5, rep_doc_id, n_copies) — one row per surviving distinct
    document (singletons included; n_copies > 1 rows are the dedup wins,
    rep_doc_id = numeric-min survivor)."""
    ex = extract_spans(interleaved)
    docs = reassembled_documents(ex)
    kept = quality(docs, keep=("text",)).where(F.col("quality_ok") == 1)
    return kept.groupBy(F.md5("text").alias("text_md5")).agg(
        F.min("doc_id").alias("rep_doc_id"),
        F.count("*").alias("n_copies"),
    )


BIN_TOKENS = 512  # tokens per training bin
N_SHARDS = 8  # packing shards (shard = doc_id % N_SHARDS)


def training_batches(interleaved: DataFrame) -> DataFrame:
    """The FULL training-data prep as one composed plan: extraction ->
    reassembly -> quality gate -> exact-dedup survivor selection -> token
    packing into fixed bins. Output, one row per surviving document:
      (doc_id, shard, n_tokens, bin_id, bin_offset)

    Scale shape: one mapInArrow crossing (extraction) + TWO wide stages —
    a window MIN over md5(text) picks each duplicate group's survivor
    (no groupBy + join-back), and the per-shard cumulative token window
    assigns bins (shard = doc_id % N_SHARDS keeps the packing
    deterministic AND bounded per partition; a trillion-doc run raises
    N_SHARDS, nothing else changes). Quality/token math reuses
    functions/text.quality verbatim."""
    from pyspark.sql import Window

    ex = extract_spans(interleaved)
    docs = reassembled_documents(ex)
    kept = quality(docs, keep=("text",)).where(F.col("quality_ok") == 1)
    surv = kept.withColumn(
        "rep_doc_id", F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    ).where("doc_id = rep_doc_id")
    sharded = surv.select(
        "doc_id",
        F.expr(f"cast(doc_id % {N_SHARDS} as int)").alias("shard"),
        F.col("n_tokens_bpe").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        sharded.withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .withColumn("bin_id", F.expr(f"cast(div(cum_before, {BIN_TOKENS}) as bigint)"))
        .withColumn("bin_offset", F.expr(f"cast(cum_before % {BIN_TOKENS} as bigint)"))
        .select("doc_id", "shard", "n_tokens", "bin_id", "bin_offset")
    )
