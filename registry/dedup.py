"""Dedup queries over the planted-duplicate corpus (functions/dedup.py
plant_dups): exact md5, n-gram Jaccard, MinHash+LSH, SimHash, chunk and
repeated-span dedup, decontamination and the composed clean-corpus
pipelines. Their oracles share `_CORPUS`, `_JACCARD_CTES` and `_LSH_CTES`."""

from __future__ import annotations

from pyspark.sql import functions as F

from html_parser_spark.functions import dedup as DD
from html_parser_spark.operators.pipeline import clean_corpus, training_batches
from html_parser_spark.sources.interleave import interleaved_from_documents

from registry import WORD_HASH_D, documents, query
from registry.plans import nodes


_THR = DD.JACCARD_THRESHOLD_PERMILLE


# planted-duplicate corpus (functions/dedup.py plant_dups)
_CORPUS = f"""
  corpus AS (
    SELECT doc_id, text, source FROM documents
    UNION ALL
    SELECT doc_id + {DD.EXACT_OFFSET}, text, source FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + {DD.NEAR_OFFSET},
           array_to_string(
             (string_split(text, ' '))[1:len(string_split(text, ' ')) - 1], ' '),
           source
    FROM documents WHERE doc_id % 7 = 0
  )
"""

# distinct 3-gram shingles + per-doc set sizes + pairwise Jaccard (blocked on
# source), mirroring functions/dedup.py exactly
_JACCARD_CTES = f"""
  {_CORPUS},
  sh AS (
    SELECT DISTINCT doc_id, source, g FROM (
      SELECT doc_id, source,
             unnest(CASE WHEN len(w) < 3 THEN []::BIGINT[]
                    ELSE list_transform(range(1, len(w) - 1),
                         i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15)
                              AS BIGINT)) END) AS g
      FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM corpus)
    )
  ),
  sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
    FROM sh a JOIN sh b
      ON a.g = b.g AND a.source = b.source AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  jpairs AS (
    SELECT doc_a, doc_b, inter,
           sa.sz + sb.sz - inter AS union_sz,
           (1000 * inter) // (sa.sz + sb.sz - inter) AS jacc_permille
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
  )
"""


def _minhash_select_d(k: int) -> str:
    """Mirror of the min-hashes in functions/dedup.band_key_exprs:
    linear-permutation MinHash mins as one aggregation over the exploded
    shingles (identical int64 arithmetic)."""
    p = DD.MINHASH_P
    cols = [
        f"MIN(({a} * (g % {p}) + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(DD.minhash_params(k))
    ]
    return ",\n                     ".join(cols)


def _bands_union_d(k: int, rows_per_band: int) -> str:
    parts = []
    for band in range(k // rows_per_band):
        cols = " || '|' || ".join(
            f"CAST(mh{band * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        parts.append(f"SELECT doc_id, {band} AS band, md5({cols}) AS key FROM mhw")
    return "\n              UNION ALL ".join(parts)


_WH = WORD_HASH_D.format(w="w")


# shared CTE chain ending in `lsh_pairs` — used verbatim by both the
# pair query (dedup_minhash_lsh) and the cluster query (dedup_clusters)
_LSH_CTES = f"""{_JACCARD_CTES.strip().lstrip(',').strip()},
            mhw AS (
              SELECT doc_id, {_minhash_select_d(DD.MINHASH_K)}
              FROM sh GROUP BY doc_id
            ),
            bands AS (
              {_bands_union_d(DD.MINHASH_K, DD.LSH_ROWS_PER_BAND)}
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            ),
            -- candidate-restricted GLOBAL verification (no source blocking:
            -- LSH finds genuine cross-source dups the blocked join misses)
            vinter AS (
              SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
              FROM cand c
              JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b AND b.g = a.g
              GROUP BY c.doc_a, c.doc_b
            ),
            lsh_pairs AS (
              SELECT v.doc_a, v.doc_b, v.inter,
                     sa.sz + sb.sz - v.inter AS union_sz,
                     (1000 * v.inter) // (sa.sz + sb.sz - v.inter) AS jacc_permille
              FROM vinter v
              JOIN sizes sa ON sa.doc_id = v.doc_a
              JOIN sizes sb ON sb.doc_id = v.doc_b
              WHERE (1000 * v.inter) // (sa.sz + sb.sz - v.inter) >= {_THR}
            )"""


@query("dedup_exact", oracle=f"""
            WITH {_CORPUS.strip()}
            SELECT md5(text) AS text_md5, MIN(doc_id) AS rep_doc_id,
                   COUNT(*) AS n_copies
            FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
        """)
def q_dedup_exact(spark, sf_dir):
    return DD.exact_groups(DD.plant_dups(documents(spark, sf_dir)))


@query("dedup_ngram_jaccard", oracle=f"""
            WITH {_JACCARD_CTES.strip().lstrip(',').strip()}
            SELECT doc_a, doc_b, inter, union_sz, jacc_permille
            FROM jpairs WHERE jacc_permille >= {_THR}
        """)
def q_dedup_jaccard(spark, sf_dir):
    return DD.jaccard_pairs(DD.plant_dups(documents(spark, sf_dir)))


@query("dedup_minhash_lsh", pins=(
    ("TWO shuffles total (bucket groupBy + pair distinct): "
     "signatures and sizes are narrow array projections, never an "
     "explode + groupBy",
     lambda p: nodes(p, "Exchange") == 2),
    ("verification is candidate-bounded: broadcast semi-join shrink "
     "+ broadcast array attach (the corpus-wide shingle set is "
     "never shuffled or joined wide)",
     lambda p: nodes(p, "BroadcastHashJoin") >= 2 and "LeftSemi" in p),
    ("one shingle pass over the corpus: the array table is computed "
     "once per union leg and cached (no expression re-inlining)",
     lambda p: p.count("conv(substr(md5") <= 3),
    ("candidates from one groupBy on (band,key), not a bands "
     "self-join (no join of the band table with itself)",
     lambda p: "collect_list" in p),
    ("small candidate set: AQE's join selection broadcasts both "
     "attach joins (no hint; both are BroadcastHashJoin, no "
     "SortMergeJoin)",
     lambda p: nodes(p, "BroadcastHashJoin") >= 2
     and "SortMergeJoin" not in p),
    ("candidate pairs and candidate arrays read from cache in the "
     "verify plan (no recompute per consumer branch)",
     lambda p: "InMemoryTableScan" in p),
), oracle=f"""
            WITH {_LSH_CTES}
            SELECT doc_a, doc_b, inter, union_sz, jacc_permille FROM lsh_pairs
        """)
def q_dedup_minhash_lsh(spark, sf_dir):
    # minhash_lsh_pairs runs no job while its plan is built; AQE picks the
    # verify joins' strategy from the cached stage sizes when it executes
    return DD.minhash_lsh_pairs(DD.plant_dups(documents(spark, sf_dir)))


@query("dedup_fuzzy_join", pins=(
    ("cross-corpus candidates come from ONE (band,key) groupBy — "
     "no bands self-join, no cartesian",
     lambda p: "CartesianProduct" not in p and "NestedLoop" not in p),
    ("verify sides attach via broadcast (shingle arrays never "
     "shuffle wide)", lambda p: "BroadcastHashJoin" in p),
), oracle=f"""
            WITH {_LSH_CTES},
            fcand AS (
              SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.key = b.key
              WHERE a.doc_id < 1000000 AND b.doc_id >= 1000000
            ),
            fvin AS (
              SELECT c.left_id, c.right_id, COUNT(*) AS inter
              FROM fcand c
              JOIN sh a ON a.doc_id = c.left_id
              JOIN sh b ON b.doc_id = c.right_id AND b.g = a.g
              GROUP BY 1, 2
            ),
            fuzzy AS (
              SELECT v.left_id, v.right_id, v.inter,
                     sa.sz + sb.sz - v.inter AS union_sz,
                     (1000 * v.inter) // (sa.sz + sb.sz - v.inter)
                       AS jacc_permille
              FROM fvin v
              JOIN sizes sa ON sa.doc_id = v.left_id
              JOIN sizes sb ON sb.doc_id = v.right_id
              WHERE (1000 * v.inter) // (sa.sz + sb.sz - v.inter) >= {_THR}
            )
            SELECT left_id, right_id, inter, union_sz, jacc_permille
            FROM fuzzy
        """)
def q_fuzzy_join(spark, sf_dir):
    """Cross-TABLE near-duplicate join (functions/dedup.fuzzy_join): the
    planted copies (doc_id >= 1e6) as an 'incoming batch' fuzzy-joined
    against the original corpus as the 'lake' — every planted exact copy
    must match its original at 1000 permille and every near copy above
    threshold. Same banded two-shuffle machinery as dedup_minhash_lsh;
    bucket expansion is left-ids x right-ids only."""
    corpus = DD.plant_dups(documents(spark, sf_dir))
    return DD.fuzzy_join(
        corpus.where(f"doc_id < {DD.EXACT_OFFSET}"),
        corpus.where(f"doc_id >= {DD.EXACT_OFFSET}"),
    )


@query("dedup_clusters", oracle=f"""
            WITH RECURSIVE {_LSH_CTES},
            e AS (
              SELECT doc_a AS u, doc_b AS v FROM lsh_pairs
              UNION
              SELECT doc_b AS u, doc_a AS v FROM lsh_pairs
            ),
            n AS (SELECT DISTINCT u AS node FROM e),
            reach(node, label) AS (
              SELECT node, node FROM n
              UNION
              SELECT e.v, r.label FROM reach r JOIN e ON e.u = r.node
            ),
            lab AS (
              SELECT node AS doc_id, MIN(label) AS rep_doc_id
              FROM reach GROUP BY node
            ),
            sz AS (
              SELECT rep_doc_id, COUNT(*) AS cluster_size
              FROM lab GROUP BY rep_doc_id
            )
            SELECT l.doc_id, l.rep_doc_id, s.cluster_size
            FROM lab l JOIN sz s USING (rep_doc_id)
        """)
def q_dedup_clusters(spark, sf_dir):
    """Pairs -> duplicate clusters: transitive closure of the LSH near-dup
    pairs via alternating large-star/small-star connected components
    (O(log n) rounds). rep_doc_id = component min = canonical survivor;
    the oracle mirrors it with a DuckDB recursive CTE over the same
    pair set."""
    pairs = DD.minhash_lsh_pairs(DD.plant_dups(documents(spark, sf_dir)))
    return DD.connected_components(pairs)


@query("dedup_chunks", pins=(
    ("two exchanges total: the first-occurrence window on chunk "
     "and the per-doc reassembly groupBy",
     lambda p: nodes(p, "Exchange") == 2),
    ("map-side partial aggregation for the reassembly",
     lambda p: "partial_collect_list" in p),
    ("chunking is one regex Generate, no indexing lambda over a "
     "split array (the per-element re-evaluation trap)",
     lambda p: "posexplode(regexp_extract_all" in p
     and "transform(sequence" not in p),
), oracle=f"""
            WITH {_CORPUS.strip()},
            ch AS (
              SELECT doc_id, i - 1 AS chunk_idx, chunks[i] AS chunk
              FROM (SELECT doc_id,
                           regexp_extract_all(text, '[a-z]+( [a-z]+){{0,4}}') AS chunks
                    FROM corpus),
                   LATERAL (SELECT unnest(generate_series(1, len(chunks))) AS i)
            ),
            r AS (
              SELECT doc_id, chunk_idx, chunk,
                     row_number() OVER (PARTITION BY chunk
                                        ORDER BY doc_id, chunk_idx) AS rn
              FROM ch
            )
            SELECT doc_id,
                   COUNT(*) AS n_chunks,
                   CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END,
                                       ' ' ORDER BY chunk_idx), '') AS text_dedup
            FROM r GROUP BY doc_id
        """)
def q_dedup_chunks(spark, sf_dir):
    """C4/RefinedWeb-style sub-document dedup: 5-word-aligned chunks,
    global first-occurrence survives, documents reassembled from surviving
    chunks (a fully-duplicate doc keeps a row with n_kept=0, text_dedup='').
    Runs over the planted corpus so exact copies exercise the empty path."""
    return DD.chunk_dedup(DD.plant_dups(documents(spark, sf_dir)))


@query("dedup_repeated_spans", pins=(
    ("two WIDE exchanges: the corpus-wide gram-count window on the "
     "60-bit hash and the per-doc islands merge on doc_id (the "
     "final groupBy reuses the doc_id partitioning); plus only the "
     "round-robin input spread",
     lambda p: p.count("hashpartitioning") == 2
     and nodes(p, "Exchange") == 3),
    ("no count-table join-back: the repeat filter is a window "
     "count, not a join",
     lambda p: "Join" not in p),
    ("gram strings never cross the wide stage: the shuffle keys "
     "are bigint hashes (gram dropped before the first exchange)",
     lambda p: "hashpartitioning(g#" in p),
    ("grams built by zip_with cascade, no indexing lambda over a "
     "split array (the per-element re-evaluation trap)",
     lambda p: "transform(sequence" not in p),
), oracle=f"""
            WITH {_CORPUS.strip()},
            wd AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
            gr AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(w[i:i+9], ' ') AS gram
              FROM wd, LATERAL (SELECT unnest(generate_series(1, len(w) - 9)) AS i)
              WHERE len(w) >= 10
            ),
            rep AS (
              SELECT doc_id, pos FROM (
                SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gram) AS n_occ
                FROM gr)
              WHERE n_occ >= 2
            ),
            isl AS (
              SELECT doc_id, pos,
                     CAST(SUM(CASE WHEN prev IS NULL OR pos - prev > 10
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS INTEGER)
                       AS span_seq
              FROM (SELECT doc_id, pos,
                           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                             AS prev
                    FROM rep)
            )
            SELECT doc_id, span_seq,
                   CAST(MIN(pos) AS INTEGER) AS span_start,
                   CAST(MAX(pos) + 9 AS INTEGER) AS span_end,
                   CAST(MAX(pos) - MIN(pos) + 10 AS INTEGER) AS span_words,
                   COUNT(*) AS n_rep_grams
            FROM isl GROUP BY doc_id, span_seq
        """)
def q_dedup_repeated_spans(spark, sf_dir):
    """Lee-et-al-style sub-document dedup: maximal word spans whose every
    10-gram occurs >= 2 times corpus-wide (functions/dedup.repeated_spans —
    two shuffles: one window count on the 60-bit gram hash, one islands
    merge on doc_id). Runs over the planted corpus so exact copies mine
    whole-document spans and near copies mine all-but-the-tail spans.
    The spread repartition sits AFTER the plant-dups union: the gram-build
    + md5 projection is the CPU-heavy stage and a single parquet split
    would run it in ONE task (the PNG-query lesson); spreading before the
    union would clone the exchange into all three legs."""
    corpus = DD.plant_dups(documents(spark, sf_dir)).repartition(
        spark.sparkContext.defaultParallelism
    )
    return DD.repeated_spans(corpus)


@query("dedup_simhash", pins=(
    ("shuffle-free: all 32 bit-sums fold in one narrow projection",
     lambda p: "Exchange" not in p),
    ("no row amplification (no Generate/explode in the plan)",
     lambda p: "Generate" not in p),
    ("scan pruned to doc_id,text",
     lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
), oracle=f"""
            WITH wd AS (
              SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents
            ),
            wh AS (SELECT doc_id, {_WH} AS h FROM wd),
            bits AS (
              SELECT doc_id, i AS j,
                     SUM(CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END) AS s
              FROM wh CROSS JOIN range(32) t(i) GROUP BY doc_id, i
            )
            SELECT doc_id,
                   CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                            ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id
        """)
def q_dedup_simhash(spark, sf_dir):
    return DD.simhash(documents(spark, sf_dir))


@query("decontaminate_overlap", pins=(
    ("bench shingles broadcast into the overlap probe; the corpus "
     "is never shuffled wide (two Exchanges: overlap groupBy + "
     "bench distinct)",
     lambda p: nodes(p, "BroadcastHashJoin") >= 2
     and nodes(p, "Exchange") <= 2),
    ("map-side partial overlap counts", lambda p: "partial_count" in p),
    ("the all-docs left side prunes to doc_id only",
     lambda p: "ReadSchema: struct<doc_id:bigint>" in p),
), oracle="""
            WITH wd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            sh AS (
              SELECT DISTINCT doc_id, g FROM (
                SELECT doc_id,
                       unnest(CASE WHEN len(w) < 3 THEN []::BIGINT[]
                              ELSE list_transform(range(1, len(w) - 1),
                                   i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15)
                                        AS BIGINT)) END) AS g
                FROM wd
              )
            ),
            bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
            hits AS (
              SELECT s.doc_id, COUNT(*) AS n_overlap
              FROM sh s JOIN bench b ON s.g = b.g GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
                   CAST(CASE WHEN COALESCE(h.n_overlap, 0) >= 5
                        THEN 1 ELSE 0 END AS INTEGER) AS is_contaminated
            FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        """)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination over the documents table: the benchmark is
    every 50th doc (a deterministic eval split), and a training doc is
    contaminated when it shares >= 5 distinct 3-gram shingles with any
    benchmark doc. Benchmark members flag themselves; near/exact planted
    copies of benchmark docs flag too (that is the point of the step)."""
    docs = documents(spark, sf_dir)
    return DD.decontaminate(docs, docs.where(F.expr("doc_id % 50 = 0")))


@query("pipeline_clean_corpus", crossings=("MapInArrow",), pins=(
    ("one wide op total: the dedup groupBy's Exchange "
     "(extract -> reassemble -> quality gate are all narrow)",
     lambda p: nodes(p, "Exchange") == 1),
    ("map-side partial aggregation before the exchange",
     lambda p: "partial_" in p),
), oracle=f"""
            WITH {_CORPUS.strip()},
            rec AS (
              SELECT doc_id,
                     array_to_string((string_split(text, ' '))[1:3], ' ')
                       || ' ' || text || ' ' || text AS rtext
              FROM corpus
            ),
            m AS (
              SELECT doc_id, rtext,
                     len(string_split(rtext, ' ')) AS n_words,
                     len(list_distinct(string_split(rtext, ' '))) AS n_distinct,
                     list_aggregate(list_transform(string_split(rtext, ' '),
                                                   x -> length(x)), 'max') AS maxw
              FROM rec
            )
            SELECT md5(rtext) AS text_md5, MIN(doc_id) AS rep_doc_id,
                   COUNT(*) AS n_copies
            FROM m
            WHERE n_words >= 5 AND n_words <= 100000 AND maxw <= 40
              AND 3 * n_distinct >= n_words
            GROUP BY md5(rtext)
        """)
def q_pipeline_clean_corpus(spark, sf_dir):
    """The composed end-to-end pipeline (operators/pipeline.py): planted-dup
    corpus -> wrap -> extraction kernel -> reassembled text -> quality gate
    -> exact-dedup manifest, one Spark plan with a single wide operation
    (the final groupBy). Closed form: reassembled text = title + text + text,
    exact copies (doc_id%5) collapse onto their base (rep = base id,
    n_copies=2), near copies (doc_id%7, last word dropped) stay distinct."""
    return clean_corpus(
        interleaved_from_documents(DD.plant_dups(documents(spark, sf_dir)))
    )


@query("pipeline_training_batches", crossings=("MapInArrow",), pins=(
    ("two wide stages: the md5 survivor window and the shard pack "
     "window (no groupBy+join-back for survivor selection)",
     lambda p: nodes(p, "Exchange") == 2
     and "Join" not in p),
), oracle=f"""
            WITH {_CORPUS.strip()},
            rec AS (
              SELECT doc_id,
                     array_to_string((string_split(text, ' '))[1:3], ' ')
                       || ' ' || text || ' ' || text AS rtext
              FROM corpus
            ),
            m AS (
              SELECT doc_id, rtext,
                     len(string_split(rtext, ' ')) AS n_words,
                     len(list_distinct(string_split(rtext, ' '))) AS n_distinct,
                     list_aggregate(list_transform(string_split(rtext, ' '),
                                                   x -> length(x)), 'max') AS maxw,
                     CAST(list_aggregate(list_transform(string_split(rtext, ' '),
                            x -> (length(x) + 3) // 4), 'sum') AS BIGINT)
                       AS n_tokens
              FROM rec
            ),
            q AS (
              SELECT * FROM m
              WHERE n_words >= 5 AND n_words <= 100000 AND maxw <= 40
                AND 3 * n_distinct >= n_words
            ),
            surv AS (
              SELECT doc_id, n_tokens,
                     MIN(doc_id) OVER (PARTITION BY md5(rtext)) AS rep
              FROM q QUALIFY doc_id = rep
            ),
            sh AS (
              SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS shard, n_tokens
              FROM surv
            )
            SELECT doc_id, shard, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
                          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) // 512 AS BIGINT) AS bin_id,
                   CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
                          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) % 512 AS BIGINT) AS bin_offset
            FROM sh
        """)
def q_pipeline_training_batches(spark, sf_dir):
    """The full training-data prep composed into ONE plan
    (operators/pipeline.training_batches): planted corpus -> wrap ->
    extraction kernel -> reassembly -> quality gate -> exact-dedup
    survivor window -> per-shard 512-token bin packing. One Python
    crossing, two wide stages (md5 survivor window + shard pack window)."""
    return training_batches(
        interleaved_from_documents(DD.plant_dups(documents(spark, sf_dir)))
    )
