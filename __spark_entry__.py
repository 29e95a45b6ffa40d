"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes every implemented capability (SURVEY.md §2 + the
training-data-pipeline operators) as (spark, sf_dir) -> DataFrame. Each
call opens a fresh cache scope (html_parser_spark/cache.py) that holds
the query's persisted and checkpointed intermediates until the next entry
is called, so run one query at a time and act on its result before calling
the next. Each call also sets the session time zone to UTC, the clock
every oracle's timestamp arithmetic assumes.
`oracle_sql()` holds each query's DuckDB-runnable reconstruction of the
SAME answer from first principles, so the Spark kernels are verified
end-to-end; `plan_pins()` and `PYTHON_CROSSINGS` hold its physical-plan
contract (checked by tests/test_gate_oracles.py on the unexecuted plan).

All four are views of the `Query` records in registry/ (one module per
domain: extract, dedup, vectors, text, corpus, multimodal, events, web,
tpch), where each query's builder, oracle, pins and crossings are
declared together.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

# the package lives next to this file; make imports robust to the caller's cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from html_parser_spark import cache
from html_parser_spark.operators.extract import exploded_spans, extract_spans
from html_parser_spark.sources.interleave import interleaved_from_documents

from registry import RECORDS, documents
from registry import (  # noqa: F401  (importing a domain module records its queries)
    corpus, dedup, events, extract, multimodal, text, tpch, vectors, web,
)

# queries() order; the driver samples a 50-entry prefix (the first block)
ORDER = """
    kmeans_embeddings sketch_bloom_decontaminate dedup_minhash_lsh
    multimodal_webp_meta multimodal_avif_meta text_bpe_vocab text_bpe_tokens
    dedup_semantic sample_importance corpus_pack_bpe multimodal_webp_frames
    pipeline_extract_bpe web_robots_decisions web_crawl_schedule
    corpus_filter_funnel web_sitemap_frontier web_anchor_text
    web_crawl_delta graph_hits dedup_exact dedup_ngram_jaccard
    dedup_fuzzy_join dedup_clusters dedup_chunks dedup_repeated_spans
    dedup_simhash dedup_embedding_cosine text_pii_redact text_card_redact
    text_tfidf text_bm25_search source_warc_roundtrip decontaminate_overlap
    text_bigram_lm sample_stratified corpus_mix corpus_pack_sequences
    similarity_topk similarity_lsh_topk similarity_ivf_topk
    embedding_quantize similarity_quantized_topk graph_pagerank
    sketch_countmin_words transform_plugins parse_nodes parse_attrs
    extract_quirks extract_html_tables diff_transform diff_attrs
    multimodal_meta multimodal_image_decode

    text_repetition text_topk_terms source_jsonl_roundtrip text_fingerprint
    text_phrase_search text_langid text_quality extract_flagship
    extract_errors extract_metrics extract_main extract_main_boilerplate
    generate_roundtrip text_langid_multiscript multimodal_exif_meta
    url_canonical_dedup url_domain_stats multimodal_id3_meta extract_links
    text_tokens_multiscript graph_domain_pagerank corpus_chunk_windows
    multimodal_png_decode multimodal_gif_decode multimodal_gif_frames
    multimodal_jpeg_decode multimodal_jpeg_progressive multimodal_audio_meta
    multimodal_video_frames multimodal_mp3_meta multimodal_mp4_meta
    layout_pdf_text pipeline_clean_corpus pipeline_training_batches
    tpch_pricing_summary tpch_top_orders tpch_regional_revenue
    tpch_late_orders tpch_inactive_customers events_hourly events_sessionize
    events_asof_attribution events_error_burst events_rolling_value
    events_gapfill events_json_props events_funnel events_retention_cohorts
    events_scd2_history events_pivot_hourly events_rollup_totals
    events_quantiles events_hist_quantiles events_mad_outliers
    layout_zorder_stats sketch_hll_users sketch_hll_user_minutes
""".split()
if sorted(ORDER) != sorted(RECORDS):
    raise RuntimeError(f"ORDER and the records differ: {set(ORDER) ^ set(RECORDS)}")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction over the interleaved table at sf0.001."""
    docs = documents(spark, "/root/testdata/sf0.001")
    return exploded_spans(extract_spans(interleaved_from_documents(docs)))


def _scoped(fn: Callable[[SparkSession, str], DataFrame]):
    """A registry entry owns its query's per-session state. Each call
    closes the session's open cache scope (releasing the previous query's
    caches) and opens a fresh one, which stays open after the call returns
    so the caller's action on the lazy result reads live caches. Each call
    also sets `spark.sql.session.timeZone` to UTC: DuckDB's epoch() reads
    a timestamp's wall-clock as UTC, and a zone set by one builder would
    otherwise leak into every plan built after it. Composed builders call
    each other directly and share the caller's scope and zone."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        cache.open_scope(spark)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _scoped(RECORDS[name].build) for name in ORDER}


def oracle_sql() -> dict[str, str]:
    return {name: RECORDS[name].oracle for name in ORDER}


def plan_pins() -> dict[str, list[tuple[str, Callable[[str], bool]]]]:
    """{query name: [(description, predicate over the explain text)]}."""
    return {n: list(RECORDS[n].pins) for n in ORDER if RECORDS[n].pins}


# {query name: names of its Python-crossing nodes}; absent = crosses zero times
PYTHON_CROSSINGS = {n: RECORDS[n].crossings for n in ORDER if RECORDS[n].crossings}
