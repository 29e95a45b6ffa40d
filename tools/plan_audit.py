"""Physical-plan audit: capture .explain('formatted') for the key queries and
assert the plan properties the engine is designed around:

  - column pruning reaches the parquet scan (ReadSchema carries only the
    needed columns, e.g. doc_id/text/source for the extraction wrap)
  - the extraction pipeline has at most ONE exchange (the opt-in salt)
  - the similarity query broadcasts the query side (BroadcastHashJoin),
    never shuffles the corpus for the join
  - aggregations are map-side partial (partial_ + final HashAggregate)
  - narrow text functions have NO exchange at all

Usage: python tools/plan_audit.py [sf_dir]   (a directory path, or a scale
factor such as '0.01' / 'sf0.01' naming a sibling of the default sf0.01
directory). Writes PLANS_AUDIT.md. Exits 1 if an assertion fails, 2 on a
missing sf directory (before Spark starts).
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def stable_ids(plan: str) -> str:
    """Blank expression ids (`doc_id#123L`), exchange plan ids and RDD ids
    (`MapPartitionsRDD[144]`): all come from JVM-wide counters that shift
    whenever an earlier query builds a node more or less, so PLANS_AUDIT.md
    would change on every run."""
    return re.sub(r"(#|plan_id=|RDD\[)\d+", r"\1_", plan)


DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def main() -> int:
    from gate_check import scale_factor_dir

    arg = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    # a bare scale factor ('0.01', 'sf0.01') names a sibling of the default
    # sf directory, resolved exactly as tools/gate_check.py does
    sf_dir = scale_factor_dir(os.path.dirname(DEFAULT_SF_DIR), arg)
    if not os.path.isdir(sf_dir):
        print(f"plan_audit: no such sf directory: {sf_dir}", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    from html_parser_spark.session import apply_scale_confs

    spark = (
        apply_scale_confs(
            SparkSession.builder.master("local[8]")
            .appName("plan-audit")
            .config("spark.sql.shuffle.partitions", "16")
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    checks = []  # (name, plan, [(desc, ok)])
    failures = 0

    def audit(name, df, asserts):
        nonlocal failures
        plan = explain_str(df)
        results = []
        for desc, fn in asserts:
            ok = fn(plan)
            results.append((desc, ok))
            if not ok:
                failures += 1
        checks.append((name, plan, results))

    qs = E.queries()

    audit(
        "extract_flagship",
        qs["extract_flagship"](spark, sf_dir),
        [
            ("scan reads only doc_id,text,source (column pruning through the wrap)",
             lambda p: "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in p),
            ("no exchange before the kernel (unsalted path is shuffle-free)",
             lambda p: "Exchange" not in p),
            # formatted explain lists each node twice (tree + details)
            ("single Python crossing (one MapInArrow, no pandas round-trip)",
             lambda p: p.count("MapInArrow") <= 2 and "MapInPandas" not in p),
        ],
    )

    from html_parser_spark.operators.extract import extract_spans
    from html_parser_spark.sources.interleave import interleaved_from_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    audit(
        "extract_salted",
        extract_spans(interleaved_from_documents(docs), salt_partitions=64),
        [
            ("exactly one exchange: the salt repartition",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1 and "xxhash64" in p),
        ],
    )

    audit(
        "text_fingerprint",
        qs["text_fingerprint"](spark, sf_dir),
        [
            ("scan pruned to doc_id,text",
             lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
            ("no shuffle (narrow projection)", lambda p: "Exchange" not in p),
            ("whole-stage codegen", lambda p: "codegen id" in p),
        ],
    )

    audit(
        "similarity_topk",
        qs["similarity_topk"](spark, sf_dir),
        [
            ("query side broadcast (corpus never shuffled for the join)",
             lambda p: "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p),
            ("pushed filter on vec_id for the query side",
             lambda p: "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id," in p),
        ],
    )

    audit(
        "dedup_simhash",
        qs["dedup_simhash"](spark, sf_dir),
        [
            ("shuffle-free: all 32 bit-sums fold in one narrow projection",
             lambda p: "Exchange" not in p),
            ("no row amplification (no Generate/explode in the plan)",
             lambda p: "Generate" not in p),
            ("scan pruned to doc_id,text",
             lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
        ],
    )

    audit(
        "extract_metrics",
        qs["extract_metrics"](spark, sf_dir),
        [
            ("map-side partial aggregation before the exchange",
             lambda p: "partial_count" in p or "Functions [partial_" in p),
        ],
    )

    audit(
        "text_tfidf",
        qs["text_tfidf"](spark, sf_dir),
        [
            ("four shuffles total (tf agg, df agg, corpus count, ONE window "
             "Exchange) — the doc_len and rank windows share theirs",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 4
             and len(re.findall(r"\(\d+\) Window\b", p)) == 2),
            ("df and corpus-count join sides broadcast",
             lambda p: len(re.findall(r"\(\d+\) BroadcastExchange\b", p)) == 2),
            ("map-side partial aggregation for tf",
             lambda p: "partial_count" in p),
        ],
    )

    audit(
        "dedup_minhash_lsh",
        qs["dedup_minhash_lsh"](spark, sf_dir),
        [
            ("TWO shuffles total (bucket groupBy + pair distinct): "
             "signatures and sizes are narrow array projections, never an "
             "explode + groupBy",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 2),
            ("verification is candidate-bounded: broadcast semi-join shrink "
             "+ broadcast array attach (the corpus-wide shingle set is "
             "never shuffled or joined wide)",
             lambda p: p.count("BroadcastHashJoin") >= 2 and "LeftSemi" in p),
            ("one shingle pass over the corpus: the array table is computed "
             "once per union leg and cached (no expression re-inlining)",
             lambda p: p.count("conv(substr(md5") <= 3),
            ("candidates from one groupBy on (band,key), not a bands "
             "self-join (no join of the band table with itself)",
             lambda p: "collect_list" in p),
            ("small candidate set: AQE's join selection broadcasts both "
             "attach joins (no hint; both are BroadcastHashJoin, no "
             "SortMergeJoin)",
             lambda p: p.count("BroadcastHashJoin") >= 2
             and "SortMergeJoin" not in p),
            ("candidate pairs and candidate arrays read from cache in the "
             "verify plan (no recompute per consumer branch)",
             lambda p: "InMemoryTableScan" in p),
            ("shingle expression still never re-inlined per consumer "
             "branch (md5 passes bounded by the 3 union legs)",
             lambda p: p.count("conv(substr(md5") <= 3),
        ],
    )

    audit(
        "decontaminate_overlap",
        qs["decontaminate_overlap"](spark, sf_dir),
        [
            ("bench shingles broadcast into the overlap probe; the corpus "
             "is never shuffled wide (two Exchanges: overlap groupBy + "
             "bench distinct)",
             lambda p: p.count("BroadcastHashJoin") >= 2
             and len(re.findall(r"\(\d+\) Exchange\b", p)) <= 2),
            ("map-side partial overlap counts", lambda p: "partial_count" in p),
            ("the all-docs left side prunes to doc_id only",
             lambda p: "ReadSchema: struct<doc_id:bigint>" in p),
        ],
    )

    audit(
        "pipeline_clean_corpus",
        qs["pipeline_clean_corpus"](spark, sf_dir),
        [
            ("one wide op total: the dedup groupBy's Exchange "
             "(extract -> reassemble -> quality gate are all narrow)",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
            ("map-side partial aggregation before the exchange",
             lambda p: "partial_" in p),
            ("one Python crossing (MapInArrow); quality gate fused JVM-side",
             lambda p: p.count("MapInArrow") <= 2 and "MapInPandas" not in p),
        ],
    )

    audit(
        "dedup_chunks",
        qs["dedup_chunks"](spark, sf_dir),
        [
            ("two exchanges total: the first-occurrence window on chunk "
             "and the per-doc reassembly groupBy",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 2),
            ("map-side partial aggregation for the reassembly",
             lambda p: "partial_collect_list" in p),
            ("chunking is one regex Generate, no indexing lambda over a "
             "split array (the per-element re-evaluation trap)",
             lambda p: "posexplode(regexp_extract_all" in p
             and "transform(sequence" not in p),
        ],
    )

    audit(
        "dedup_repeated_spans",
        qs["dedup_repeated_spans"](spark, sf_dir),
        [
            ("two WIDE exchanges: the corpus-wide gram-count window on the "
             "60-bit hash and the per-doc islands merge on doc_id (the "
             "final groupBy reuses the doc_id partitioning); plus only the "
             "round-robin input spread",
             lambda p: p.count("hashpartitioning") == 2
             and len(re.findall(r"\(\d+\) Exchange\b", p)) == 3),
            ("no count-table join-back: the repeat filter is a window "
             "count, not a join",
             lambda p: "Join" not in p),
            ("gram strings never cross the wide stage: the shuffle keys "
             "are bigint hashes (gram dropped before the first exchange)",
             lambda p: "hashpartitioning(g#" in p),
            ("grams built by zip_with cascade, no indexing lambda over a "
             "split array (the per-element re-evaluation trap)",
             lambda p: "transform(sequence" not in p),
        ],
    )

    audit(
        "tpch_top_orders",
        qs["tpch_top_orders"](spark, sf_dir),
        [
            ("dimension sides broadcast; no cartesian/nested-loop join",
             lambda p: len(re.findall(r"BroadcastHashJoin", p)) >= 2
             and "CartesianProduct" not in p
             and "BroadcastNestedLoopJoin" not in p),
            ("at most one wide exchange beyond the joins (the revenue "
             "groupBy; at bench sf even orders broadcasts)",
             lambda p: len(re.findall(r"Exchange hashpartitioning", p)) <= 2),
            ("top-10 runs as TakeOrdered, never a full sort",
             lambda p: "TakeOrderedAndProject" in p),
            ("revenue aggregation is map-side partial",
             lambda p: "partial_sum" in p),
            ("date filters push to the scans",
             lambda p: "PushedFilters: [IsNotNull(l_shipdate)" in p
             or "GreaterThan(l_shipdate" in p),
        ],
    )

    audit(
        "events_mad_outliers",
        qs["events_mad_outliers"](spark, sf_dir),
        [
            ("ONE exchange on event_type shared by both rank passes, both "
             "window MAX attaches, and the final groupBy — no join-back",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
             and "Join" not in p),
            ("final aggregate is map-side partial",
             lambda p: "partial_max" in p or "partial_sum" in p),
        ],
    )

    audit(
        "tpch_late_orders",
        qs["tpch_late_orders"](spark, sf_dir),
        [
            ("existence probe plans as a SEMI join (LeftSemi), never "
             "join+distinct",
             lambda p: "LeftSemi" in p),
            ("no cartesian: the date inequality rides the equi-join",
             lambda p: "CartesianProduct" not in p),
            ("priority counts are map-side partial",
             lambda p: "partial_count" in p),
        ],
    )

    audit(
        "tpch_inactive_customers",
        qs["tpch_inactive_customers"](spark, sf_dir),
        [
            ("absence probe plans as an ANTI join (LeftAnti), never "
             "outer-join + null-filter",
             lambda p: "LeftAnti" in p),
            ("no cartesian anywhere", lambda p: "CartesianProduct" not in p),
        ],
    )

    audit(
        "tpch_regional_revenue",
        qs["tpch_regional_revenue"](spark, sf_dir),
        [
            ("all five dimension chains broadcast (region->nation->supplier "
             "and customer): the only wide work is lineitem x orders",
             lambda p: len(re.findall(r"BroadcastHashJoin", p)) >= 4
             and "CartesianProduct" not in p),
            ("at most one wide exchange beyond the joins",
             lambda p: len(re.findall(r"Exchange hashpartitioning", p)) <= 2),
            ("revenue aggregation is map-side partial",
             lambda p: "partial_sum" in p),
        ],
    )

    audit(
        "text_phrase_search",
        qs["text_phrase_search"](spark, sf_dir),
        [
            ("zero shuffles: pure narrow projection, adjacency is doc-local "
             "shift-and-intersect algebra",
             lambda p: "Exchange" not in p),
            ("scan pruned to doc_id,text",
             lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
        ],
    )

    audit(
        "corpus_pack_sequences",
        qs["corpus_pack_sequences"](spark, sf_dir),
        [
            ("ONE exchange on source: the cumulative window and the bin "
             "arithmetic are in-partition",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 1),
            ("token counting is a narrow aggregate() fold, no explode",
             lambda p: "Generate" not in p),
        ],
    )

    audit(
        "pipeline_training_batches",
        qs["pipeline_training_batches"](spark, sf_dir),
        [
            ("one Python crossing for the whole composed pipeline",
             lambda p: len(re.findall(r"\(\d+\) (MapInArrow|MapInPandas)\b", p)) == 1),
            ("two wide stages: the md5 survivor window and the shard pack "
             "window (no groupBy+join-back for survivor selection)",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 2
             and "Join" not in p),
        ],
    )

    audit(
        "events_funnel",
        qs["events_funnel"](spark, sf_dir),
        [
            ("ONE exchange on user_id: the three chained stage-min windows "
             "and the final groupBy all share it — no join chain",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
             and "Join" not in p),
        ],
    )

    audit(
        "events_retention_cohorts",
        qs["events_retention_cohorts"](spark, sf_dir),
        [
            ("two exchanges: the per-user cohort window and the "
             "(cohort, offset) distinct-count groupBy",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 2),
        ],
    )

    audit(
        "events_scd2_history",
        qs["events_scd2_history"](spark, sf_dir),
        [
            ("ONE exchange on user_id for the lead window; no join",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
             and "Join" not in p),
            ("scan pruned to the four needed columns",
             lambda p: "ReadSchema: struct<event_id:bigint,ts:timestamp" in p),
        ],
    )

    audit(
        "events_json_props",
        qs["events_json_props"](spark, sf_dir),
        [
            ("JSON parse happens in the scan projection; stats are "
             "map-side partial",
             lambda p: "from_json" in p and "partial_count" in p),
            ("scan pruned to event_type,props",
             lambda p: "ReadSchema: struct<event_type:string,props:string>"
             in p),
        ],
    )

    audit(
        "events_gapfill",
        qs["events_gapfill"](spark, sf_dir),
        [
            ("join-free with ONE exchange: the user_id repartition is "
             "reused by the hourly agg and the per-user pack",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
             and "Join" not in p),
            ("both aggregations are map-side partial",
             lambda p: "partial_count" in p),
            ("the fill is a narrow zip_with fold, no indexing lambda over "
             "a built array",
             lambda p: "zip_with" in p.lower() or "ZipWith" in p),
        ],
    )

    audit(
        "source_warc_roundtrip",
        qs["source_warc_roundtrip"](spark, sf_dir),
        [
            ("one exchange total: the pack-into-files groupBy (the record "
             "splitter adds no shuffle)",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 1),
            ("record packing is map-side partial (collect_list partials "
             "before the exchange)",
             lambda p: "partial_collect_list" in p),
            ("exactly two Python crossings: the gzip writer and the record "
             "scanner (one ArrowEvalPython + one MapInArrow, no MapInPandas)",
             lambda p: len(re.findall(r"\(\d+\) ArrowEvalPython\b", p)) == 1
             and len(re.findall(r"\(\d+\) MapInArrow\b", p)) == 1
             and "MapInPandas" not in p),
        ],
    )

    audit(
        "text_bm25_search",
        qs["text_bm25_search"](spark, sf_dir),
        [
            ("zero wide shuffles: no hash-partition Exchange anywhere (the "
             "only Exchange is the SinglePartition reduce of the 1-row "
             "totals aggregate)",
             lambda p: "Exchange hashpartitioning" not in p),
            ("totals attach by broadcast, corpus never shuffles for the join",
             lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p),
            ("top-k runs as TakeOrdered, never a full sort",
             lambda p: "TakeOrderedAndProject" in p),
            ("totals pass reads only the text column",
             lambda p: "ReadSchema: struct<text:string>" in p),
        ],
    )

    audit(
        "text_repetition",
        qs["text_repetition"](spark, sf_dir),
        [
            ("shuffle-free: the top-bigram fold is a narrow projection",
             lambda p: "Exchange" not in p),
            ("no row amplification (no Generate/explode)",
             lambda p: "Generate" not in p),
            ("scan pruned to doc_id,text",
             lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
        ],
    )

    audit(
        "corpus_filter_funnel",
        qs["corpus_filter_funnel"](spark, sf_dir),
        [
            ("TWO Exchanges total: the md5 keep-window partition + the "
             "funnel groupBy(source); all four gate signals are one "
             "narrow projection (no Generate/explode, no join)",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 2
             and "Generate" not in p and "Join" not in p),
            ("funnel aggregate is map-side combinable (partial "
             "HashAggregate below its Exchange)",
             lambda p: re.search(
                 r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate"
                 r"[\s\S]*Window", p) is not None),
            ("scan pruned to doc_id,text,source",
             lambda p: "ReadSchema: struct<doc_id:bigint,text:string,"
             "source:string>" in p),
        ],
    )

    audit(
        "text_pii_redact",
        qs["text_pii_redact"](spark, sf_dir),
        [
            ("shuffle-free narrow projection (regex scrub is JVM-side)",
             lambda p: "Exchange" not in p),
            ("scan pruned to doc_id,text",
             lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
        ],
    )

    audit(
        "events_hourly",
        qs["events_hourly"](spark, sf_dir),
        [
            ("map-side partial aggregation", lambda p: "partial_" in p),
            ("scan pruned to event_type,ts,value",
             lambda p: "ReadSchema: struct<ts:timestamp_ntz,event_type:string,value:double>" in p),
        ],
    )

    audit(
        "events_sessionize",
        qs["events_sessionize"](spark, sf_dir),
        [
            ("single exchange: lag + running-sum windows and the session "
             "groupBy all reuse the user_id hash partitioning",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1
             and "hashpartitioning(user_id" in p),
            ("scan pruned to the four needed columns",
             lambda p: "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,value:double>" in p),
        ],
    )

    audit(
        "corpus_mix",
        qs["corpus_mix"](spark, sf_dir),
        [
            ("rate table re-joins via broadcast (heavy side never shuffles "
             "for the join)", lambda p: "BroadcastHashJoin" in p),
            ("no window / no global sort (hash-threshold mixing, not "
             "rank-and-cut)", lambda p: "Window" not in p
             and "Sort [" not in p),
            ("per-source totals are map-side partial aggregation",
             lambda p: "partial_sum" in p),
        ],
    )

    audit(
        "events_asof_attribution",
        qs["events_asof_attribution"](spark, sf_dir),
        [
            ("single exchange: the union-window as-of plan shuffles once on "
             "user_id (no join, no pair blowup)",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1
             and "hashpartitioning(user_id" in p),
        ],
    )

    audit(
        "events_error_burst",
        qs["events_error_burst"](spark, sf_dir),
        [
            ("banded range join is a real equi-join, never a nested-loop/"
             "cartesian fallback",
             lambda p: "NestedLoop" not in p and "CartesianProduct" not in p
             and ("SortMergeJoin" in p or "ShuffledHashJoin" in p
                  or "BroadcastHashJoin" in p)),
            ("bounded fan-out: the only row amplification is the 2-band "
             "Generate on the right side",
             lambda p: p.count("Generate explode") <= 2),
        ],
    )

    audit(
        "sketch_hll_users",
        qs["sketch_hll_users"](spark, sf_dir),
        [
            ("register fold is map-side partial aggregation (executors ship "
             "<= groups x 256 rows)", lambda p: "partial_max" in p),
            ("scan pruned to event_type,user_id",
             lambda p: "ReadSchema: struct<user_id:bigint,event_type:string>" in p),
        ],
    )

    audit(
        "sketch_countmin_words",
        qs["sketch_countmin_words"](spark, sf_dir),
        [
            ("cell counts are map-side partial aggregation",
             lambda p: "partial_count" in p or "partial_" in p),
            ("the probe joins the d*w-cell sketch via broadcast",
             lambda p: "BroadcastHashJoin" in p),
        ],
    )

    audit(
        "sketch_bloom_decontaminate",
        qs["sketch_bloom_decontaminate"](spark, sf_dir),
        [
            ("the 16-word filter reaches the probe side via broadcast "
             "(probe side never shuffles for the membership test)",
             lambda p: "BroadcastHashJoin" in p),
            ("bit fold is map-side partial aggregation",
             lambda p: "partial_bit_or" in p),
        ],
    )

    audit(
        "kmeans_embeddings",
        qs["kmeans_embeddings"](spark, sf_dir),
        [
            ("centroids broadcast to the assignment step (corpus never "
             "shuffles for the distance join; BNLJ build side is k rows)",
             lambda p: re.search(r"BroadcastNestedLoopJoin \w+ BuildRight", p)
             is not None),
            ("per-dim centroid sums are map-side partial aggregation",
             lambda p: "partial_sum" in p),
        ],
    )

    audit(
        "events_quantiles",
        qs["events_quantiles"](spark, sf_dir),
        [
            ("rank window, count window, and final groupBy all share ONE "
             "event_type exchange",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1
             and "hashpartitioning(event_type" in p),
        ],
    )

    audit(
        "similarity_quantized_topk",
        qs["similarity_quantized_topk"](spark, sf_dir),
        [
            ("quantized query side broadcast (corpus codes scanned once, "
             "never shuffled for the join)",
             lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p),
        ],
    )

    audit(
        "dedup_fuzzy_join",
        qs["dedup_fuzzy_join"](spark, sf_dir),
        [
            ("cross-corpus candidates come from ONE (band,key) groupBy — "
             "no bands self-join, no cartesian",
             lambda p: "CartesianProduct" not in p and "NestedLoop" not in p),
            ("verify sides attach via broadcast (shingle arrays never "
             "shuffle wide)", lambda p: "BroadcastHashJoin" in p),
        ],
    )

    audit(
        "events_hist_quantiles",
        qs["events_hist_quantiles"](spark, sf_dir),
        [
            ("bin counts are map-side partial aggregation (<= 1024 cells "
             "per group cross the wire)", lambda p: "partial_count" in p),
            ("scan pruned to event_type,value",
             lambda p: "ReadSchema: struct<event_type:string,value:double>" in p),
        ],
    )

    audit(
        "graph_pagerank",
        qs["graph_pagerank"](spark, sf_dir),
        [
            ("out-degree table joins broadcast (edge table never shuffles "
             "for the degree attach)", lambda p: "BroadcastHashJoin" in p),
            ("per-round contribution sums are map-side partial aggregation",
             lambda p: "partial_sum" in p),
        ],
    )

    audit(
        "url_canonical_dedup",
        qs["url_canonical_dedup"](spark, sf_dir),
        [
            ("ONE Exchange total: group size and representative attach as "
             "window aggregates over the same url_canon partitioning, "
             "never a groupBy + join-back",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 1),
            ("scan pruned to doc_id,text",
             lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
        ],
    )

    audit(
        "text_langid_multiscript",
        qs["text_langid_multiscript"](spark, sf_dir),
        [
            ("pure narrow projection: ZERO Exchanges (synth + classify are "
             "row-local expressions)",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 0),
            ("no Python crossing: classification is JVM char-range algebra "
             "(no MapInArrow/MapInPandas node)",
             lambda p: "MapInArrow" not in p and "MapInPandas" not in p),
        ],
    )

    audit(
        "multimodal_exif_meta",
        qs["multimodal_exif_meta"](spark, sf_dir),
        [
            ("exactly one round-robin spread Exchange feeds the Python "
             "kernels (single-split serialization defense), nothing wide",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
             and "roundrobin" in p.lower()),
        ],
    )

    audit(
        "text_bpe_tokens",
        qs["text_bpe_tokens"](spark, sf_dir),
        [
            ("corpus side is ROW-LOCAL (bloom-probe shape): the only "
             "Exchange is the SinglePartition vocab-map fold; per-doc "
             "token counts come from one broadcast map row, the corpus "
             "never shuffles",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
             and "BroadcastExchange" in p
             and "BroadcastNestedLoopJoin Cross" in p),
            ("scan pruned to doc_id,text",
             lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
        ],
    )

    audit(
        "multimodal_webp_meta",
        qs["multimodal_webp_meta"](spark, sf_dir),
        [
            ("exactly one round-robin spread Exchange feeds the Python "
             "kernels (single-split serialization defense), nothing wide",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
             and "roundrobin" in p.lower()),
        ],
    )

    audit(
        "dedup_semantic",
        qs["dedup_semantic"](spark, sf_dir),
        [
            ("cluster-BLOCKED pair join: an equi-join keyed on cluster id, "
             "never a cartesian over the corpus (quadratic only within a "
             "cluster — the SemDeDup contract; k is the scale knob)",
             lambda p: "CartesianProduct" not in p
             and "SortMergeJoin" in p),
            ("assignment+embedding base is cached once and read by the "
             "self-join's both sides plus the final keep projection",
             lambda p: "InMemoryTableScan" in p),
            ("kmeans inside keeps its row-local shape: centroids broadcast, "
             "corpus never shuffles for the distance step",
             lambda p: re.search(r"BroadcastNestedLoopJoin \w+ BuildRight", p)
             is not None),
        ],
    )

    audit(
        "sample_importance",
        qs["sample_importance"](spark, sf_dir),
        [
            ("TWO Exchanges only: the map-side-combinable bucket-count agg "
             "and the SinglePartition weight-map fold (<= 256 rows); the "
             "scoring pass is row-local over ONE broadcast map row and the "
             "top-k is a TakeOrdered, never a global sort",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 2
             and "BroadcastExchange" in p
             and "TakeOrderedAndProject" in p),
            ("scans pruned: the count pass reads text+source only",
             lambda p: "ReadSchema: struct<text:string,source:string>" in p),
        ],
    )

    audit(
        "multimodal_avif_meta",
        qs["multimodal_avif_meta"](spark, sf_dir),
        [
            ("exactly one round-robin spread Exchange feeds the Python "
             "kernels (single-split serialization defense), nothing wide",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
             and "roundrobin" in p.lower()),
        ],
    )

    audit(
        "web_robots_decisions",
        qs["web_robots_decisions"](spark, sf_dir),
        [
            ("URL corpus never shuffles: the ONLY Exchange is the tiny "
             "host distinct (8 rows) feeding the rule synth; the per-host "
             "rule arrays broadcast and the RFC 9309 longest-match is a "
             "row-local filter/array_max inside the scan stage",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
             and "BroadcastExchange" in p
             and "BroadcastHashJoin LeftOuter BuildRight" in p),
            ("scan pruned to doc_id,text",
             lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
        ],
    )

    audit(
        "web_crawl_schedule",
        qs["web_crawl_schedule"](spark, sf_dir),
        [
            ("TWO Exchanges: the tiny host distinct + ONE URL-side shuffle "
             "(the per-host FIFO window); the robots decision stays "
             "broadcast-row-local and the allowed=1 filter sits BELOW the "
             "window Exchange, shrinking the only wide shuffle",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 2
             and "BroadcastExchange" in p
             and re.search(r"Window[\s\S]*Exchange[\s\S]*Filter[\s\S]*"
                           r"BroadcastHashJoin", p) is not None),
        ],
    )

    audit(
        "web_sitemap_frontier",
        qs["web_sitemap_frontier"](spark, sf_dir),
        [
            ("the only two Exchanges are the tiny host-distinct "
             "aggregations (one per branch: sitemap synth + robots synth), "
             "each map-side partial — the URL corpus never shuffles",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 2
             and len(re.findall(
                 r"HashAggregate[\s\S]{0,400}?Exchange[\s\S]{0,400}?"
                 r"HashAggregate", p)) >= 2),
            ("sitemap XML goes through the REAL parse kernel (MapInArrow), "
             "and the robots rule arrays attach by broadcast",
             lambda p: "MapInArrow" in p
             and "BroadcastHashJoin LeftOuter BuildRight" in p),
            ("the posexplode Generate is the output stage, above the "
             "kernel, not a shuffled intermediate",
             lambda p: re.search(r"Generate[\s\S]*MapInArrow", p)
             is not None),
        ],
    )

    audit(
        "extract_links",
        qs["extract_links"](spark, sf_dir),
        [
            ("ONE Exchange total (the link_idx window); anchor/href/text "
             "assembly joins all broadcast",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
             and p.count("BroadcastHashJoin") >= 2),
            ("parse kernel behind a cache barrier (node AND attr consumers "
             "read the same materialized parse, not two kernel runs)",
             lambda p: "InMemoryTableScan" in p),
        ],
    )

    audit(
        "graph_domain_pagerank",
        qs["graph_domain_pagerank"](spark, sf_dir),
        [
            ("per-round contribution sums are map-side partial aggregation "
             "and the degree attach broadcasts (edge table never shuffles "
             "for it)",
             lambda p: "partial_sum" in p and "BroadcastHashJoin" in p),
            ("parse kernel behind the cache barrier (every per-round edge "
             "reference reads the materialized parse; ONE MapInArrow in "
             "the whole composed plan, not one per lineage embed)",
             lambda p: "InMemoryTableScan" in p
             and len(re.findall(r"\(\d+\) MapInArrow", p)) <= 1),
        ],
    )

    audit(
        "graph_hits",
        qs["graph_hits"](spark, sf_dir),
        [
            ("per-round contribution sums are map-side partial aggregation",
             lambda p: "partial_sum" in p),
            ("L-inf norm scalars attach as broadcast one-row cross joins, "
             "never a single-partition window",
             lambda p: "BroadcastNestedLoopJoin" in p
             and "SinglePartition" not in p.split("AdaptiveSparkPlan")[0]),
        ],
    )

    audit(
        "web_anchor_text",
        qs["web_anchor_text"](spark, sf_dir),
        [
            ("two Exchanges, both map-side combined: (target, anchor) pair "
             "combine before the first shuffle (hot-anchor skew guard), "
             "then only the combined pair table shuffles per target",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 2
             and "partial_count" in p),
            ("modal-anchor min(struct) plans as a partial+final "
             "SortAggregate pair (still map-side combined)",
             lambda p: len(re.findall(r"\(\d+\) SortAggregate", p)) == 2),
            ("parse kernel behind the cache barrier (links keepalive holds "
             "the persist across the aggregation)",
             lambda p: "InMemoryTableScan" in p
             and len(re.findall(r"\(\d+\) MapInArrow", p)) <= 1),
        ],
    )

    audit(
        "web_crawl_delta",
        qs["web_crawl_delta"](spark, sf_dir),
        [
            ("three Exchanges: the two full-outer SMJ sides plus the tiny "
             "(source, status) rollup — nothing else shuffles",
             lambda p: len(re.findall(r"\(\d+\) Exchange\b", p)) == 3
             and "SortMergeJoin" in p and "FullOuter" in p),
            ("text never crosses the shuffle: both sides reduce to the "
             "md5/length digest projection scan-side (h_a/h_b/len_a/len_b "
             "are the join payload)",
             lambda p: "md5" in p and "h_a" in p and "h_b" in p
             and "len_a" in p and "len_b" in p),
            ("scan pruned to (doc_id, text, source)",
             lambda p: "ReadSchema: struct<doc_id:bigint,text:string,"
             "source:string>" in p),
            ("rollup is map-side combined",
             lambda p: "partial_count" in p or "partial_sum" in p),
        ],
    )

    out = ["# Physical-plan audit (tools/plan_audit.py)\n"]
    out.append(f"sf_dir: {sf_dir}; Spark {spark.version}\n")
    for name, plan, results in checks:
        out.append(f"\n## {name}\n")
        for desc, ok in results:
            out.append(f"- {'PASS' if ok else 'FAIL'}: {desc}")
        out.append("\n```\n" + stable_ids(plan.strip())[:4000] + "\n```")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS_AUDIT.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    for name, _, results in checks:
        for desc, ok in results:
            print(f"{'PASS' if ok else 'FAIL'} {name}: {desc}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
