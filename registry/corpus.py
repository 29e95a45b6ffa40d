"""Corpus-shaping queries: chunk windows, the filter funnel, sequence
packing, mixing and sampling, WARC/JSONL source round trips, Count-Min and
Bloom sketches with cell-exact oracles, and fixed-round BPE whose oracles
replay every merge round (`_bpe_rounds_sql`)."""

from __future__ import annotations

import re

from pyspark.sql import Window
from pyspark.sql import functions as F

from html_parser_spark import cache
from html_parser_spark.functions import sketch as SK
from html_parser_spark.functions import text as TXT
from html_parser_spark.functions.bpe import bpe_token_counts, bpe_vocab
from html_parser_spark.functions.sampling import (
    chunk_windows, corpus_mix, importance_resample, keep_bucket_expr,
    stratified_sample,
)
from html_parser_spark.operators.extract import extract_spans
from html_parser_spark.operators.pipeline import reassembled_documents
from html_parser_spark.sources import warc as WARC
from html_parser_spark.sources.interleave import interleaved_from_documents

from registry import WORD_HASH_D, documents, query
from registry.plans import detail_blocks, nodes


_BLOOM_W = "split(text, ' ')"
_BLOOM_BIGRAMS = (
    f"zip_with({_BLOOM_W}, slice({_BLOOM_W}, 2, greatest(size({_BLOOM_W}) - 1, 0)), "
    "(x, y) -> concat(x, ' ', y))"
)
_BLOOM_TRIGRAMS = (
    f"filter(zip_with({_BLOOM_BIGRAMS}, "
    f"slice({_BLOOM_W}, 3, greatest(size({_BLOOM_W}) - 2, 0)), "
    "(xy, z) -> concat(xy, ' ', z)), s -> s is not null)"
)


def _bpe_rounds_sql(
    n_merges: int = 16, source: str = "documents", lead_ctes: str = ""
) -> str:
    """The fixed-round BPE train replay as chained CTEs: w0 = the
    distinct-word table with initial char+'</w>' symbol arrays; each round
    r = pair-count groupBy (p{r}) + deterministic argmax (m{r}) +
    list_reduce re-segmentation (w{r}) — the left-to-right non-overlapping
    merge fold mirrors functions/bpe.merge_fold_expr exactly (DuckDB list
    slices are INCLUSIVE, hence acc[:-2] to drop the merged-away tail).
    Ends without a final SELECT so every BPE oracle shares the chain.
    `source` names the (doc_id, text) table the train reads; `lead_ctes`
    injects derived-corpus CTEs (e.g. the extraction reconstruction)
    between WITH and w0."""
    sql = f"""
        WITH {lead_ctes} w0 AS MATERIALIZED (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
                 list_transform(range(1, length(word) + 1),
                                i -> substr(word, CAST(i AS INT), 1))
                   || ['</w>'] AS syms
          FROM (SELECT unnest(string_split(text, ' ')) AS word FROM {source})
          WHERE word <> '' GROUP BY word
        )"""
    for r in range(1, n_merges + 1):
        sql += f""",
        p{r} AS (
          SELECT s.a AS a, s.b AS b, SUM(cnt) AS pcnt FROM (
            SELECT cnt, unnest(list_transform(range(1, len(syms)),
              i -> struct_pack(a := syms[CAST(i AS INT)],
                               b := syms[CAST(i AS INT) + 1]))) AS s
            FROM w{r - 1} WHERE len(syms) > 1
          ) GROUP BY s.a, s.b
        ),
        m{r} AS (
          SELECT CAST({r} AS INTEGER) AS rank, a, b, pcnt FROM p{r}
          ORDER BY pcnt DESC, a, b LIMIT 1
        ),
        w{r} AS MATERIALIZED (
          SELECT word, cnt,
            list_reduce(list_transform(syms, s -> [s]),
              (acc, x) -> CASE WHEN acc[-1] = m.a AND x[1] = m.b
                          THEN acc[:-2] || [m.a || m.b]
                          ELSE acc || x END) AS syms
          FROM w{r - 1} CROSS JOIN m{r} m
        )"""
    return sql


@query("corpus_chunk_windows", oracle="""
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), n AS (
              SELECT doc_id, w,
                     1 + greatest((len(w) - 16 + 12 - 1) // 12, 0) AS nc
              FROM t
            ), c AS (
              SELECT doc_id, w, unnest(range(0, nc)) AS i FROM n
            )
            SELECT doc_id,
                   CAST(i AS INTEGER) AS chunk_idx,
                   CAST(len(w[CAST(i * 12 + 1 AS INTEGER)
                              : CAST(least(i * 12 + 16, len(w)) AS INTEGER)])
                        AS INTEGER) AS n_tokens,
                   array_to_string(
                       w[CAST(i * 12 + 1 AS INTEGER)
                         : CAST(least(i * 12 + 16, len(w)) AS INTEGER)],
                       ' ') AS chunk
            FROM c
        """)
def q_corpus_chunk_windows(spark, sf_dir):
    """Sliding-window chunking (functions/sampling.chunk_windows): 16-word
    windows at stride 12 (4-word overlap) — the context-window prep for
    long-document training. Word-aligned, every word in >=1 chunk, short
    docs yield exactly one chunk. Narrow posexplode projection, no
    shuffle."""
    return chunk_windows(documents(spark, sf_dir), window=16, stride=12)


# Composes the text_langid / text_quality / text_repetition /
# dedup_exact oracle fragments into the one funnel the Spark side
# computes in a single pass. Sums CAST to BIGINT (DuckDB SUM(int)
# is HUGEINT); intermediate len() stays native since only the
# seven output columns are type-compared.
@query("corpus_filter_funnel", pins=(
    ("TWO Exchanges total: the md5 keep-window partition + the "
     "funnel groupBy(source); all four gate signals are one "
     "narrow projection (no Generate/explode, no join)",
     lambda p: nodes(p, "Exchange") == 2
     and "Generate" not in p and "Join" not in p),
    ("funnel aggregate is map-side combinable (partial "
     "HashAggregate below its Exchange)",
     lambda p: re.search(
         r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate"
         r"[\s\S]*Window", p) is not None),
    ("scan pruned to doc_id,text,source",
     lambda p: "ReadSchema: struct<doc_id:bigint,text:string,"
     "source:string>" in p),
), oracle="""
            WITH t AS (SELECT doc_id, source, text,
                              string_split(text, ' ') AS w FROM documents),
            bgc AS (
              SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_count,
                     CAST(SUM(c) AS BIGINT) AS n_bigrams
              FROM (
                SELECT doc_id, bg, COUNT(*) AS c
                FROM (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
                      FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i))
                GROUP BY doc_id, bg)
              GROUP BY doc_id
            ),
            sig AS (
              SELECT t.doc_id, t.source, md5(t.text) AS text_md5,
                len(w) AS n_words,
                len(list_filter(w, x -> list_contains(
                  ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'on', 'for'], x)))
                  AS n_stop,
                len(list_distinct(w)) AS n_distinct_words,
                list_aggregate(list_transform(w, x -> length(x)), 'max')
                  AS max_word_len,
                CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(w, x -> (length(x) + 3) // 4)),
                       (a, b) -> a + b) AS BIGINT) AS n_tokens_bpe,
                COALESCE(bgc.n_bigrams, 0) AS n_bigrams,
                COALESCE(bgc.top_bigram_count, 0) AS top_bigram_count,
                (1000 * (len(w) - len(list_distinct(w)))) // len(w)
                  AS dup_word_permille
              FROM t LEFT JOIN bgc ON t.doc_id = bgc.doc_id
            ),
            f1 AS (
              SELECT *, CASE WHEN 1000 * n_stop >= 30 * n_words
                             THEN 1 ELSE 0 END AS pass_lang
              FROM sig
            ),
            f2 AS (
              SELECT *, CASE WHEN pass_lang = 1 AND n_words >= 5
                              AND n_words <= 100000 AND max_word_len <= 40
                              AND 3 * n_distinct_words >= n_words
                             THEN 1 ELSE 0 END AS pass_quality
              FROM f1
            ),
            f3 AS (
              SELECT *, CASE WHEN pass_quality = 1
                              AND (CASE WHEN n_bigrams = 0 THEN CAST(0 AS BIGINT)
                                        ELSE (1000 * top_bigram_count) // n_bigrams
                                   END) <= 66
                              AND dup_word_permille <= 600
                             THEN 1 ELSE 0 END AS pass_rep
              FROM f2
            ),
            staged AS (
              SELECT *, MIN(CASE WHEN pass_rep = 1 THEN doc_id END)
                          OVER (PARTITION BY text_md5) AS keep_min
              FROM f3
            )
            SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(pass_lang) AS BIGINT) AS n_lang,
              CAST(SUM(pass_quality) AS BIGINT) AS n_quality,
              CAST(SUM(pass_rep) AS BIGINT) AS n_rep,
              CAST(SUM(CASE WHEN pass_rep = 1 AND doc_id = keep_min
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(SUM(CASE WHEN pass_rep = 1 AND doc_id = keep_min
                            THEN n_tokens_bpe ELSE 0 END) AS BIGINT) AS tokens_kept
            FROM staged GROUP BY source
        """)
def q_corpus_filter_funnel(spark, sf_dir):
    """The curation funnel a pretraining pipeline runs on a new crawl
    snapshot, composed end-to-end in one plan: language-ID -> quality
    gate -> repetition gate -> exact-dedup keep-rule, reported as
    per-source cumulative survivor counts + the kept token budget.
    Every stage reuses the standalone operators' exact expressions
    (functions/text.py shares the fragments), so this one driver row
    pins all four gates AND their composition. Two Exchanges total:
    the md5 keep-window and the map-side-combinable groupBy(source)."""
    return TXT.filter_funnel(documents(spark, sf_dir))


@query("source_warc_roundtrip", crossings=("MapInArrow", "MapInArrow"), pins=(
    ("one exchange total: the pack-into-files groupBy (the record "
     "splitter adds no shuffle)",
     lambda p: nodes(p, "Exchange") == 1),
    ("record packing is map-side partial (collect_list partials "
     "before the exchange)",
     lambda p: "partial_collect_list" in p),
), oracle="""
            SELECT doc_id,
                   'https://corpus.example/' || source || '/'
                     || CAST(doc_id AS VARCHAR) AS url,
                   CAST(length(text) AS INTEGER) AS content_length,
                   md5(text) AS payload_md5
            FROM documents
        """)
def q_source_warc(spark, sf_dir):
    """WARC container round trip (sources/warc.py): pack the documents
    table into multi-record gzipped WARC files (one groupBy), split them
    back into records with one mapInArrow crossing, and emit per-record
    facts — the header-declared length and the md5 of the actual payload
    BYTES, so the oracle's closed-form (length(text), md5(text)) verifies
    both the container writer and the reader end-to-end."""
    files = WARC.synth_warc_files(documents(spark, sf_dir), compress=True)
    recs = WARC.warc_records(files).where("status = 'ok'")
    return recs.select(
        F.expr("cast(regexp_extract(url, '/([0-9]+)$', 1) as bigint)").alias(
            "doc_id"
        ),
        "url",
        "content_length",
        "payload_md5",
    )


@query("source_jsonl_roundtrip", oracle="""
            SELECT CASE WHEN doc_id % 10 = 7 THEN NULL ELSE doc_id END
                     AS doc_id,
                   CAST(doc_id % 10 <> 7 AS INTEGER) AS parsed_ok,
                   CASE WHEN doc_id % 10 = 7 THEN NULL
                        ELSE CAST(length(text) AS INTEGER) END AS text_len
            FROM documents
        """)
def q_source_jsonl(spark, sf_dir):
    """JSONL ingestion with corrupt-record tolerance: serialize each doc
    to a JSON line (to_json), corrupt every doc_id%10==7 line by
    truncation, and parse back with strict-schema from_json — malformed
    lines surface as null rows (counted, never raised), the
    permissive-ingest contract every crawl pipeline needs. All JVM-side."""
    lines = documents(spark, sf_dir).select(
        F.expr(
            "case when doc_id % 10 = 7 "
            "then substr(to_json(struct(doc_id, text)), 1, "
            "     length(to_json(struct(doc_id, text))) - 2) "
            "else to_json(struct(doc_id, text)) end"
        ).alias("line")
    )
    parsed = lines.select(
        F.expr("from_json(line, 'doc_id bigint, text string')").alias("r")
    )
    return parsed.select(
        F.col("r.doc_id").alias("doc_id"),
        F.expr("cast(r.doc_id is not null as int)").alias("parsed_ok"),
        F.expr("cast(length(r.text) as int)").alias("text_len"),
    )


@query("corpus_pack_sequences", pins=(
    ("ONE exchange on source: the cumulative window and the bin "
     "arithmetic are in-partition",
     lambda p: nodes(p, "Exchange") == 1),
    ("token counting is a narrow aggregate() fold, no explode",
     lambda p: "Generate" not in p),
), oracle="""
            WITH t AS (
              SELECT doc_id, source,
                     CAST(list_sum(list_transform(string_split(text, ' '),
                          w -> (length(w) + 3) // 4)) AS BIGINT) AS n_tokens
              FROM documents
            ),
            c AS (
              SELECT doc_id, source, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (PARTITION BY source
                       ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS cum_before
              FROM t
            )
            SELECT doc_id, source, n_tokens,
                   CAST(cum_before // 512 AS BIGINT) AS bin_id,
                   CAST(cum_before % 512 AS BIGINT) AS bin_offset
            FROM c
        """)
def q_corpus_pack(spark, sf_dir):
    """Sequence packing — the training-batch prep step: assign documents
    to fixed 512-token bins, greedy in doc_id order WITHIN each source
    (bin_id = floor(cumulative tokens before this doc / 512)), using the
    same BPE-ish subword count as text.quality. One Exchange on source;
    the cumulative window and the bin arithmetic are in-partition. At
    100 TB the packing key widens to (source, shard) so no single window
    partition holds a whole source — the assignment stays deterministic
    because the cumsum is per-key."""
    toks = TXT.with_words(documents(spark, sf_dir)).select(
        "doc_id",
        "source",
        F.expr("aggregate(words, 0L, (s, w) -> s + div(length(w) + 3, 4))").alias(
            "n_tokens"
        ),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        toks.withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .withColumn("bin_id", F.expr("cast(div(cum_before, 512) as bigint)"))
        .withColumn("bin_offset", F.expr("cast(cum_before % 512 as bigint)"))
        .select("doc_id", "source", "n_tokens", "bin_id", "bin_offset")
    )


@query("pipeline_extract_bpe", crossings=("MapInArrow",), oracle=_bpe_rounds_sql(
        16,
        source="bdocs",
        lead_ctes="""bdocs AS (
              SELECT doc_id,
                     array_to_string((string_split(text, ' '))[1:3], ' ')
                       || ' ' || text || ' ' || text AS text
              FROM documents
            ),""",
    )
    + """,
            wt AS (SELECT word, CAST(len(syms) AS BIGINT) AS ntok FROM w16),
            dw AS (
              SELECT doc_id,
                     unnest(list_filter(string_split(text, ' '),
                                        w -> w <> '')) AS word
              FROM bdocs
            ),
            agg AS (
              SELECT dw.doc_id, CAST(COUNT(*) AS INTEGER) AS n_words,
                     CAST(SUM(wt.ntok) AS BIGINT) AS n_tokens
              FROM dw JOIN wt USING (word) GROUP BY dw.doc_id
            )
            SELECT d.doc_id, COALESCE(a.n_words, 0) AS n_words,
                   COALESCE(a.n_tokens, 0) AS n_tokens
            FROM bdocs d LEFT JOIN agg a USING (doc_id)
        """)
def q_pipeline_extract_bpe(spark, sf_dir):
    """The engine's actual end-use composed into ONE pipeline: web corpus
    -> interleaved wrap -> REAL extraction kernel -> per-doc clean text
    (text spans re-joined in span order) -> BPE vocabulary trained on the
    EXTRACTED corpus -> per-document real subword token budget
    (doc_id, n_words, n_tokens). The oracle rebuilds the extracted text
    closed-form (title + text + text, per the _RECON contract) and replays
    the 16 training rounds in SQL over that derived corpus — so one gate
    row pins parser kernel, reassembly, trainer, and encoder end-to-end.
    One Python crossing, train-side shuffles only; the counting side stays
    the row-local broadcast-map projection."""
    ex = extract_spans(interleaved_from_documents(documents(spark, sf_dir)))
    return bpe_token_counts(reassembled_documents(ex))


@query("corpus_pack_bpe", oracle=_bpe_rounds_sql(16)
    + """,
            wt AS (SELECT word, CAST(len(syms) AS BIGINT) AS ntok FROM w16),
            dw AS (
              SELECT doc_id,
                     unnest(list_filter(string_split(text, ' '),
                                        w -> w <> '')) AS word
              FROM documents
            ),
            agg AS (
              SELECT dw.doc_id, CAST(SUM(wt.ntok) AS BIGINT) AS n_tokens
              FROM dw JOIN wt USING (word) GROUP BY dw.doc_id
            ),
            t AS (
              SELECT d.doc_id, d.source,
                     COALESCE(a.n_tokens, 0) AS n_tokens
              FROM documents d LEFT JOIN agg a USING (doc_id)
            ),
            c AS (
              SELECT doc_id, source, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (PARTITION BY source
                       ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS cum_before
              FROM t
            )
            SELECT doc_id, source, n_tokens,
                   CAST(cum_before // 512 AS BIGINT) AS bin_id,
                   CAST(cum_before % 512 AS BIGINT) AS bin_offset
            FROM c
        """)
def q_corpus_pack_bpe(spark, sf_dir):
    """Sequence packing on REAL subword counts: same greedy 512-token
    binning as corpus_pack_sequences, but n_tokens is the trained-BPE
    count (functions/bpe.py) instead of the length//4 word proxy — the
    packing a production batch-prep job would actually run (VERDICT r04
    item 3). Corpus side stays row-local (broadcast vocab map) + the ONE
    window Exchange on source."""
    toks = bpe_token_counts(
        documents(spark, sf_dir), extra_cols=("source",)
    ).select("doc_id", "source", "n_tokens")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        toks.withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .withColumn("bin_id", F.expr("cast(div(cum_before, 512) as bigint)"))
        .withColumn("bin_offset", F.expr("cast(cum_before % 512 as bigint)"))
        .select("doc_id", "source", "n_tokens", "bin_id", "bin_offset")
    )


@query("sample_importance", pins=(
    ("TWO Exchanges only: the map-side-combinable bucket-count agg "
     "and the SinglePartition weight-map fold (<= 256 rows); the "
     "scoring pass is row-local over ONE broadcast map row and the "
     "top-k is a TakeOrdered, never a global sort",
     lambda p: nodes(p, "Exchange") == 2
     and "BroadcastExchange" in p
     and "TakeOrderedAndProject" in p),
    ("scans pruned: the count pass reads text+source only",
     lambda p: "ReadSchema: struct<text:string,source:string>" in p),
), oracle=f"""
            WITH ws AS (
              SELECT doc_id, source,
                     CASE WHEN source IN ('src0','src1','src2','src3')
                          THEN 1 ELSE 0 END AS is_target,
                     list_filter(string_split(text, ' '),
                                 x -> x <> '') AS w
              FROM documents
            ), g AS (
              SELECT doc_id, source, is_target,
                     list_transform(range(1, len(w)),
                       i -> {WORD_HASH_D.format(w="w[i] || ' ' || w[i+1]")}
                            % 256) AS buckets
              FROM ws
            ), occ AS (
              SELECT is_target, unnest(buckets) AS bucket FROM g
            ), cnt AS (
              SELECT bucket,
                     CAST(SUM(is_target) AS BIGINT) AS c_t,
                     CAST(SUM(1 - is_target) AS BIGINT) AS c_r
              FROM occ GROUP BY 1
            ), wt AS (
              SELECT bucket,
                     LEAST(1000000 * (c_t + 1) // (c_r + 1),
                           1000000000000) AS wgt
              FROM cnt
            ), docc AS (
              SELECT doc_id, unnest(buckets) AS bucket FROM g
            ), sc AS (
              SELECT d.doc_id,
                     CAST(SUM(COALESCE(wt.wgt, 1000000)) AS BIGINT) AS score
              FROM docc d LEFT JOIN wt USING (bucket)
              GROUP BY 1
            ), full_sc AS (
              SELECT g.doc_id, g.source, CAST(g.is_target AS INTEGER)
                       AS is_target,
                     CAST(len(g.buckets) AS INTEGER) AS n_grams,
                     COALESCE(sc.score, 0) AS score
              FROM g LEFT JOIN sc USING (doc_id)
            )
            SELECT doc_id, source, is_target, n_grams, score,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
                        AS INTEGER) AS rank
            FROM full_sc
            ORDER BY score DESC, doc_id ASC
            LIMIT 120
        """)
def q_sample_importance(spark, sf_dir):
    """DSIR-shaped importance resampling end-to-end (Xie et al. 2023):
    hashed-bigram buckets, target = the src0..src3 slice (a 'curated
    quality' stand-in), Laplace-smoothed integer micro-ratio weights,
    row-local broadcast-map scoring (corpus never shuffles), deterministic
    top-120 selection with (score DESC, doc_id ASC) tie-break. The oracle
    replays the exact bucket counts, clamped weights, and fold —
    all-integer arithmetic, so both engines agree bit-for-bit."""
    return importance_resample(
        documents(spark, sf_dir),
        "source in ('src0', 'src1', 'src2', 'src3')",
        top_k=120,
    ).select(
        "doc_id", "source",
        F.expr(
            "cast(case when source in ('src0','src1','src2','src3') "
            "then 1 else 0 end as int)"
        ).alias("is_target"),
        "n_grams", "score", "rank",
    )


@query("sample_stratified", oracle=f"""
            SELECT doc_id, source,
                   {WORD_HASH_D.format(w="CAST(doc_id AS VARCHAR)")} % 1000
                     AS bucket
            FROM documents
            WHERE {WORD_HASH_D.format(w="CAST(doc_id AS VARCHAR)")} % 1000
                  < 100 + 40 * (CAST(substr(source, 4, 10) AS INTEGER) % 10)
        """)
def q_sample_stratified(spark, sf_dir):
    """Deterministic hash-based stratified sampling: each source strata
    keeps permille = 100 + 40 * (source_number % 10) of its docs by md5
    bucket — reproducible row-for-row by the SQL oracle (no RNG), stable
    under re-runs (lineage-friendly)."""
    docs = documents(spark, sf_dir).select("doc_id", "source")
    permille = "100 + 40 * (cast(substr(source, 4) as int) % 10)"
    return stratified_sample(docs, permille).select(
        "doc_id", "source", F.expr(keep_bucket_expr()).alias("bucket")
    )


@query("corpus_mix", pins=(
    ("rate table re-joins via broadcast (heavy side never shuffles "
     "for the join)", lambda p: "BroadcastHashJoin" in p),
    ("no window / no global sort (hash-threshold mixing, not "
     "rank-and-cut)", lambda p: "Window" not in p
     and not detail_blocks(p, "Sort")),
    ("per-source totals are map-side partial aggregation",
     lambda p: "partial_sum" in p),
), oracle=f"""
            WITH t AS (
              SELECT doc_id, source,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents
            ),
            w AS (
              SELECT DISTINCT source,
                     CAST(1 + (CAST(substr(source, 4, 10) AS INTEGER) % 4)
                          AS BIGINT) AS w
              FROM documents
            ),
            wsum AS (SELECT CAST(SUM(w) AS BIGINT) AS ws FROM w),
            budget AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS b FROM t),
            tot AS (
              SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
              FROM t GROUP BY source
            ),
            rates AS (
              SELECT tot.source,
                     (budget.b * w.w * 1000000) // (wsum.ws * tot.total_tokens)
                       AS rate_ppm
              FROM tot JOIN w USING (source)
              CROSS JOIN wsum CROSS JOIN budget
              WHERE tot.total_tokens > 0
            ),
            c AS (
              SELECT t.doc_id, t.source, t.n_tokens, r.rate_ppm,
                     r.rate_ppm // 1000000
                     + (CASE WHEN ({WORD_HASH_D.format(w="CAST(t.doc_id AS VARCHAR) || ':' || t.source")}
                              % 1000000) < r.rate_ppm % 1000000
                        THEN 1 ELSE 0 END) AS n_copies
              FROM t JOIN rates r USING (source)
            )
            SELECT doc_id, source,
                   CAST(unnest(generate_series(1, n_copies)) AS BIGINT)
                     AS copy_idx,
                   n_tokens, rate_ppm
            FROM c WHERE n_copies >= 1
        """)
def q_corpus_mix(spark, sf_dir):
    """Token-budget corpus mixing (data recipes): weight w_s = 1 + src# % 4,
    budget = the corpus's own total token count, so at any sf some sources
    down-sample (rate < 1) and some up-sample (epoch repeats, rate > 1).
    Weights/budget come from two bounded control-plane actions (a distinct
    over ~20 sources, a 1-row sum); the oracle recomputes both in SQL."""
    docs = documents(spark, sf_dir).select("doc_id", "source", "text")
    srcs = [r.source for r in docs.select("source").distinct().collect()]
    weights = {s: 1 + int(s[3:]) % 4 for s in srcs}
    budget = docs.agg(
        F.expr("cast(sum(size(split(text, ' '))) as bigint)").alias("b")
    ).first().b
    return corpus_mix(docs, weights, int(budget))


@query("sketch_countmin_words", pins=(
    ("cell counts are map-side partial aggregation",
     lambda p: "partial_count" in p or "partial_" in p),
    ("the probe joins the d*w-cell sketch via broadcast",
     lambda p: "BroadcastHashJoin" in p),
), oracle="""
            WITH t AS (
              SELECT unnest(string_split(text, ' ')) AS term FROM documents
            ), tt AS (
              SELECT term FROM t WHERE term <> ''
            ), occ AS (
              SELECT term, CAST(COUNT(*) AS BIGINT) AS exact
              FROM tt GROUP BY term
            ), hr AS (
              SELECT unnest([0, 1, 2, 3]) AS i
            ), cells AS (
              SELECT hr.i AS hrow,
                     CAST('0x' || substr(md5(term || '#' || hr.i), 1, 1)
                          AS INTEGER) AS bucket,
                     CAST(COUNT(*) AS BIGINT) AS cnt
              FROM tt CROSS JOIN hr GROUP BY 1, 2
            ), probes AS (
              SELECT term, exact FROM occ ORDER BY exact DESC, term LIMIT 20
            )
            SELECT p.term, p.exact,
                   CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est
            FROM probes p
            CROSS JOIN hr
            LEFT JOIN cells c
              ON c.hrow = hr.i
             AND c.bucket = CAST('0x' || substr(md5(p.term || '#' || hr.i),
                                 1, 1) AS INTEGER)
            GROUP BY 1, 2
        """)
def q_sketch_countmin(spark, sf_dir):
    """Count-Min frequency sketch over every word occurrence in the
    corpus (functions/sketch.countmin_cells/estimate): d=4 rows x 16
    buckets, estimate = min over rows, probes = the top-20 exact terms.
    w=16 against the 31-term vocabulary forces real collisions, so the
    gate pins the OVERestimates too, not just the happy path."""
    docs = documents(spark, sf_dir)
    terms = docs.selectExpr("explode(split(text, ' ')) as term").where(
        "term <> ''"
    )
    cells = SK.countmin_cells(terms, "term")
    exact = terms.groupBy("term").agg(
        F.expr("cast(count(*) as bigint)").alias("exact")
    )
    probes = exact.orderBy(F.desc("exact"), "term").limit(20)
    return SK.countmin_estimate(cells, probes)


@query("sketch_bloom_decontaminate", pins=(
    ("the 16-word filter reaches the probe side via broadcast "
     "(probe side never shuffles for the membership test)",
     lambda p: "BroadcastHashJoin" in p),
    ("bit fold is map-side partial aggregation",
     lambda p: "partial_bit_or" in p),
), oracle="""
            WITH wd AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id, g FROM (
                SELECT doc_id,
                       unnest(CASE WHEN len(w) < 3 THEN []::VARCHAR[]
                              ELSE list_transform(range(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                              END) AS g
                FROM wd
              )
            ), bench AS (
              SELECT DISTINCT g FROM sh WHERE doc_id % 200 = 0
            ), hr AS (
              SELECT unnest([0, 1, 2, 3]) AS i
            ), bloom AS (
              SELECT p // 60 AS word_idx, bit_or(1::BIGINT << (p % 60)) AS bits
              FROM (
                SELECT CAST('0x' || substr(md5(g || '@' || hr.i), 1, 3)
                            AS INTEGER) % 960 AS p
                FROM bench CROSS JOIN hr
              ) GROUP BY 1
            ), probe AS (
              SELECT s.doc_id, s.g,
                     CAST('0x' || substr(md5(s.g || '@' || hr.i), 1, 3)
                          AS INTEGER) % 960 AS p
              FROM sh s CROSS JOIN hr
            ), pb AS (
              SELECT doc_id, g,
                     SUM(CASE WHEN b.bits IS NOT NULL
                              AND ((b.bits >> (p.p % 60)) % 2) != 0
                         THEN 1 ELSE 0 END) AS nh
              FROM probe p LEFT JOIN bloom b ON b.word_idx = p.p // 60
              GROUP BY 1, 2
            ), hits AS (
              SELECT doc_id, COUNT(*) AS n_shingles,
                     SUM(CASE WHEN nh = 4 THEN 1 ELSE 0 END) AS n_bloom
              FROM pb GROUP BY 1
            ), ex AS (
              SELECT s.doc_id, COUNT(*) AS n_exact
              FROM sh s JOIN bench b USING (g) GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(COALESCE(h.n_shingles, 0) AS INTEGER) AS n_shingles,
                   CAST(COALESCE(h.n_bloom, 0) AS INTEGER) AS n_bloom_hits,
                   CAST(COALESCE(e.n_exact, 0) AS INTEGER) AS n_exact
            FROM documents d
            LEFT JOIN hits h ON d.doc_id = h.doc_id
            LEFT JOIN ex e ON d.doc_id = e.doc_id
        """)
def q_sketch_bloom(spark, sf_dir):
    """Bloom-filter membership pruning (functions/sketch.bloom_build/
    probe): the reference set (trigram shingles of every 200th doc) folds
    into 16 int64 words that BROADCAST to the probe side — the shuffle
    join becomes a map-side test. The gate pins the probe counts AND the
    exact-join counts, so the false-positive excess is verified
    cell-for-cell, not just bounded. Trigrams via zip_with-over-slices
    (the O(n^2) lambda-index trap does not apply — CLAUDE.md)."""
    docs = documents(spark, sf_dir)
    # persisted: the trigram table feeds the filter build, the probe, AND
    # the exact-count join — without the barrier the explode+md5 chain
    # runs three times over the corpus
    tri = cache.persist(
        docs.selectExpr("doc_id", f"explode(array_distinct({_BLOOM_TRIGRAMS})) as g")
    )
    bench = tri.where("doc_id % 200 = 0").select("g").distinct()
    bloom = SK.bloom_build(bench, "g")
    # ONE pass over the trigram table serves all three counts: the exact
    # membership is a broadcast-left-join marker and the bloom test is a
    # row-local forall over the broadcast filter words, so a single
    # groupBy(doc_id) Exchange remains (the previous shape ran a separate
    # semi-join branch + second groupBy + second join-back — VERDICT r03 #4)
    marked = SK.bloom_probe(tri, "g", bloom).join(
        F.broadcast(bench.withColumn("_inb", F.lit(1))), on="g", how="left"
    )
    per_doc = marked.groupBy("doc_id").agg(
        F.expr("cast(count(*) as int)").alias("n_shingles"),
        F.expr("cast(sum(bloom_hit) as int)").alias("n_bloom_hits"),
        F.expr("cast(sum(coalesce(_inb, 0)) as int)").alias("n_exact"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, on="doc_id", how="left")
        .na.fill({"n_shingles": 0, "n_bloom_hits": 0, "n_exact": 0})
    )


@query("text_bpe_vocab", oracle=_bpe_rounds_sql(16)
    + f"""
            SELECT rank, a AS "left", b AS "right", a || b AS merged,
                   CAST(pcnt AS BIGINT) AS pair_count
            FROM ({" UNION ALL ".join(f"SELECT * FROM m{r}" for r in range(1, 17))})
        """)
def q_text_bpe_vocab(spark, sf_dir):
    """BPE vocabulary training (functions/bpe.py): 16 deterministic merge
    rounds over the corpus word-count table — Sennrich-2016 exactly, ties
    (count DESC, left, right). Output (rank, left, right, merged,
    pair_count) is the artifact a pipeline persists to encode future
    shards. The oracle replays every round in SQL (pair-count groupBy +
    argmax + list_reduce re-segmentation), so the whole iterative train
    is bit-exact-checked, kmeans-style."""
    return bpe_vocab(documents(spark, sf_dir))


@query("text_bpe_tokens", pins=(
    ("corpus side is ROW-LOCAL (bloom-probe shape): the only "
     "Exchange is the SinglePartition vocab-map fold; per-doc "
     "token counts come from one broadcast map row, the corpus "
     "never shuffles",
     lambda p: nodes(p, "Exchange") == 1
     and "BroadcastExchange" in p
     and "BroadcastNestedLoopJoin Cross" in p),
    ("scan pruned to doc_id,text",
     lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
), oracle=_bpe_rounds_sql(16)
    + """,
            wt AS (SELECT word, CAST(len(syms) AS BIGINT) AS ntok FROM w16),
            dw AS (
              SELECT doc_id,
                     unnest(list_filter(string_split(text, ' '),
                                        w -> w <> '')) AS word
              FROM documents
            ),
            agg AS (
              SELECT dw.doc_id, CAST(COUNT(*) AS INTEGER) AS n_words,
                     CAST(SUM(wt.ntok) AS BIGINT) AS n_tokens
              FROM dw JOIN wt USING (word) GROUP BY dw.doc_id
            )
            SELECT d.doc_id, COALESCE(a.n_words, 0) AS n_words,
                   COALESCE(a.n_tokens, 0) AS n_tokens
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """)
def q_text_bpe_tokens(spark, sf_dir):
    """Per-document REAL subword token counts (doc_id, n_words, n_tokens)
    under the BPE vocabulary trained on the same corpus — the count a
    training pipeline budgets sequence packing with (the old word-proxy
    undercounts long words). Corpus side is row-local: per-word token
    lengths fold into ONE broadcast map row (the bloom-probe shape), no
    wide shuffle beyond training's distinct-word groupBy."""
    return bpe_token_counts(documents(spark, sf_dir))
