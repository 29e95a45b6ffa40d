"""Per-document text queries: language ID, quality and repetition
signals, PII/card redaction, rolling-hash fingerprints, term statistics,
BM25 and phrase search, in integer/md5-exact arithmetic."""

from __future__ import annotations

from html_parser_spark.functions import text as TXT
from html_parser_spark.functions.text import synth_multiscript, token_count_script_aware

from registry import WORD_HASH_D, documents, query
from registry.plans import hash_exchanges, nodes


_STOP_LIST_D = "[" + ", ".join(f"'{w}'" for w in TXT.STOPWORDS) + "]"


def _multiscript_oracle() -> str:
    """DuckDB mirror of q_text_langid_multiscript, generated from the SAME
    SCRIPT_BLOCKS/SCRIPT_RANGES tables the Spark operator uses (single
    source of truth: a block edit shows up on both sides or neither)."""
    blocks = TXT.SCRIPT_BLOCKS
    ranges = TXT.SCRIPT_RANGES
    case = " ".join(
        f"WHEN {i} THEN {b} + "
        f"(CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2) AS INT) % {s})"
        for i, (_n, b, s) in enumerate(blocks)
    )
    cnts = ", ".join(
        "CAST(len(list_filter(cps, c -> "
        + " OR ".join(f"(c BETWEEN {lo} AND {hi})" for lo, hi in rs)
        + f")) AS INTEGER) AS n_{n}"
        for n, rs in ranges
    )
    structs = ", ".join("{'cnt': n_%s, 's': '%s'}" % (n, n) for n, _r in ranges)
    names = ", ".join(f"n_{n}" for n, _r in ranges)
    total = " + ".join(f"n_{n}" for n, _r in ranges)
    return f"""
        WITH h AS (
          SELECT doc_id, md5(text || 'uni0') || md5(text || 'uni1') AS hx
          FROM documents
        ), cp AS (
          SELECT doc_id, list_transform(range(0, {TXT.MULTISCRIPT_CHARS}),
            i -> CASE WHEN (i % 5) = 4 THEN 32
                      ELSE (CASE doc_id % {len(blocks)} {case} END) END) AS cps
          FROM h
        ), s AS (
          SELECT doc_id,
                 array_to_string(list_transform(cps, c -> chr(CAST(c AS INT))),
                                 '') AS utext,
                 CAST(len(cps) AS INTEGER) AS n_chars,
                 CAST(len(list_filter(cps, c -> c = 32)) AS INTEGER) AS n_space,
                 {cnts}
          FROM cp
        )
        SELECT doc_id, utext, n_chars, n_space, {names},
               n_chars - n_space - ({total}) AS n_other,
               list_reduce(
                   list_prepend({{'cnt': 0, 's': 'none'}}, [{structs}]),
                   (a, b) -> CASE WHEN b.cnt > a.cnt THEN b ELSE a END
               ).s AS script_pred
        FROM s
    """


_WH = WORD_HASH_D.format(w="w")


@query("text_langid", oracle=f"""
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            SELECT doc_id,
              CAST(len(w) AS INTEGER) AS n_words,
              CAST(len(list_filter(w, x -> list_contains({_STOP_LIST_D}, x)))
                   AS INTEGER) AS n_stop,
              CASE WHEN 1000 * len(list_filter(w, x -> list_contains({_STOP_LIST_D}, x)))
                        >= 30 * len(w)
                   THEN 'en' ELSE 'unk' END AS lang_pred
            FROM t
        """)
def q_text_langid(spark, sf_dir):
    return TXT.lang_id(documents(spark, sf_dir))


@query("text_tokens_multiscript", oracle="""
            SELECT doc_id,
                   CAST(6 AS INTEGER) AS n_ws_tokens,
                   CAST(CASE WHEN doc_id % 8 IN (6, 7) THEN 24 ELSE 6 END
                        AS INTEGER) AS n_tokens_aware
            FROM documents
        """)
def q_text_tokens_multiscript(spark, sf_dir):
    """Script-aware token counting over the multiscript unicode corpus
    (functions/text.token_count_script_aware): CJK/kana/Hangul characters
    count one token each (unsegmented scripts), everything else counts
    whitespace words — the budget-correct number a multilingual pipeline
    needs (whitespace tokens undercount CJK ~10x). Closed forms on the
    synth corpus: space-delimited scripts -> 6 words both columns;
    cjk/hangul (doc_id % 8 in (6,7)) -> 6 ws words but 24 aware tokens."""
    uni = synth_multiscript(documents(spark, sf_dir))
    return token_count_script_aware(uni, "utext")


@query("text_langid_multiscript", pins=(
    ("pure narrow projection: ZERO Exchanges (synth + classify are "
     "row-local expressions)",
     lambda p: nodes(p, "Exchange") == 0),
), oracle=_multiscript_oracle())
def q_text_langid_multiscript(spark, sf_dir):
    """Unicode script identification (functions/text.synth_multiscript +
    script_profile): documents.text is pure [a-z ] by pinned invariant, so
    this derives a deterministic UNICODE column from a fresh
    md5(text||'uni<i>') stream — one writing system per doc_id % 8 (Latin,
    accented, Greek, Cyrillic, Hebrew/RTL, Arabic/RTL, CJK, Hangul) — and
    runs the generic per-codepoint-range classifier over it. The oracle
    rebuilds the identical string with chr()+array_to_string and replays
    the counts/argmax from the codepoint list, pinning both engines'
    unicode plumbing (UTF-16BE decode vs chr) against each other."""
    return TXT.script_profile(TXT.synth_multiscript(documents(spark, sf_dir)))


@query("text_quality", oracle="""
            WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
            m AS (
              SELECT doc_id,
                CAST(length(text) AS INTEGER) AS n_chars,
                CAST(len(w) AS INTEGER) AS n_words,
                CAST(len(list_distinct(w)) AS INTEGER) AS n_distinct_words,
                CAST(list_aggregate(list_transform(w, x -> length(x)), 'max')
                     AS INTEGER) AS max_word_len,
                CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(w, x -> (length(x) + 3) // 4)),
                       (a, b) -> a + b) AS BIGINT) AS n_tokens_bpe,
                (1000 * length(text)) // len(w) AS chars_per_word_permille
              FROM t
            )
            SELECT *,
              CAST(CASE WHEN n_words >= 5 AND n_words <= 100000
                         AND max_word_len <= 40
                         AND 3 * n_distinct_words >= n_words
                    THEN 1 ELSE 0 END AS INTEGER) AS quality_ok
            FROM m
        """)
def q_text_quality(spark, sf_dir):
    return TXT.quality(documents(spark, sf_dir))


@query("text_repetition", pins=(
    ("shuffle-free: the top-bigram fold is a narrow projection",
     lambda p: "Exchange" not in p),
    ("no row amplification (no Generate/explode)",
     lambda p: "Generate" not in p),
    ("scan pruned to doc_id,text",
     lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
), oracle="""
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            b AS (
              SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
              FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i)
            ),
            c AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY doc_id, bg),
            m AS (
              SELECT doc_id,
                     CAST(MAX(c) AS INTEGER) AS top_bigram_count,
                     CAST(CAST(SUM(c) AS BIGINT) AS INTEGER) AS n_bigrams
              FROM c GROUP BY doc_id
            ),
            j AS (
              SELECT w.doc_id,
                     CAST(len(ws) AS INTEGER) AS n_words,
                     COALESCE(m.n_bigrams, 0) AS n_bigrams,
                     COALESCE(m.top_bigram_count, 0) AS top_bigram_count,
                     (1000 * (len(ws) - len(list_distinct(ws)))) // len(ws)
                       AS dup_word_permille
              FROM w LEFT JOIN m ON w.doc_id = m.doc_id
            )
            SELECT doc_id, n_words, n_bigrams, top_bigram_count, dup_word_permille,
                   CASE WHEN n_bigrams = 0 THEN CAST(0 AS BIGINT)
                        ELSE (1000 * top_bigram_count) // n_bigrams
                   END AS top_bigram_permille,
                   CAST(CASE WHEN (CASE WHEN n_bigrams = 0 THEN CAST(0 AS BIGINT)
                                        ELSE (1000 * top_bigram_count) // n_bigrams
                                   END) <= 66
                              AND dup_word_permille <= 600
                         THEN 1 ELSE 0 END AS INTEGER) AS rep_ok
            FROM j
        """)
def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition filter signals, shuffle-free per doc."""
    return TXT.repetition(documents(spark, sf_dir))


@query("text_pii_redact", pins=(
    ("shuffle-free narrow projection (regex scrub is JVM-side)",
     lambda p: "Exchange" not in p),
    ("scan pruned to doc_id,text",
     lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
), oracle="""
            WITH p AS (
              SELECT doc_id,
                     text || ' contact ' || substr(md5(text), 1, 6) || '@example.com'
                          || CASE WHEN doc_id % 3 = 0
                                  THEN ' or ' || substr(md5(text), 9, 4) || '@mail.net'
                                  ELSE '' END
                          || ' ref '
                          || CAST(CAST('0x' || substr(md5(text), 7, 6) AS BIGINT)
                                  AS VARCHAR) AS text_pii
              FROM documents
            ),
            e AS (
              SELECT doc_id, text_pii,
                     regexp_replace(text_pii, '[a-z0-9]+@[a-z]+[.][a-z]+',
                                    '<EMAIL>', 'g') AS t1
              FROM p
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text_pii,
                        '[a-z0-9]+@[a-z]+[.][a-z]+')) AS INTEGER) AS n_emails,
                   CAST(len(regexp_extract_all(t1, '[0-9]{4,}')) AS INTEGER) AS n_ids,
                   regexp_replace(t1, '[0-9]{4,}', '<ID>', 'g') AS text_clean
            FROM e
        """)
def q_text_pii_redact(spark, sf_dir):
    """PII scrubbing over deterministically planted synthetic PII (the
    corpus text is pure [a-z ], so emails/ids are injected from md5
    streams first — same fixture style as plant_dups/multimodal)."""
    return TXT.pii_redact(TXT.plant_pii(documents(spark, sf_dir)))


@query("text_card_redact", oracle="""
            WITH base AS (
              SELECT doc_id, text,
                     lpad(CAST(CAST('0x' || substr(md5(text || 'card'), 1, 12)
                          AS BIGINT) AS VARCHAR), 15, '0') AS p1,
                     lpad(CAST(CAST('0x' || substr(md5(text || 'card'), 13, 12)
                          AS BIGINT) AS VARCHAR), 15, '0') AS p2
              FROM documents
            ),
            s AS (
              SELECT *,
                     list_sum(list_transform(string_split(p1, ''), (d, i) ->
                       CASE WHEN i % 2 = 1 THEN
                         CASE WHEN 2 * CAST(d AS INTEGER) > 9
                              THEN 2 * CAST(d AS INTEGER) - 9
                              ELSE 2 * CAST(d AS INTEGER) END
                       ELSE CAST(d AS INTEGER) END)) AS s1,
                     list_sum(list_transform(string_split(p2, ''), (d, i) ->
                       CASE WHEN i % 2 = 1 THEN
                         CASE WHEN 2 * CAST(d AS INTEGER) > 9
                              THEN 2 * CAST(d AS INTEGER) - 9
                              ELSE 2 * CAST(d AS INTEGER) END
                       ELSE CAST(d AS INTEGER) END)) AS s2
              FROM base
            ),
            cards AS (
              SELECT doc_id, text, p1, p2,
                     CASE WHEN doc_id % 2 = 0
                          THEN (10 - s1 % 10) % 10
                          ELSE ((10 - s1 % 10) % 10 + 5) % 10 END AS c1,
                     ((10 - s2 % 10) % 10 + 3) % 10 AS c2
              FROM s
            )
            SELECT doc_id,
                   CAST(1 + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END
                        AS INTEGER) AS n_candidates,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
                        AS INTEGER) AS n_valid,
                   text || ' pay '
                     || CASE WHEN doc_id % 2 = 0 THEN '<CARD>'
                             ELSE p1 || CAST(c1 AS VARCHAR) END
                     || CASE WHEN doc_id % 4 = 0
                             THEN ' alt ' || p2 || CAST(c2 AS VARCHAR)
                             ELSE '' END AS text_clean
            FROM cards
        """)
def q_text_card_redact(spark, sf_dir):
    """Checksum-gated PII: 16-digit card candidates planted from md5
    streams (Luhn-valid for even doc_ids, plus an always-invalid second
    candidate every 4th doc); only candidates passing the Luhn checksum
    redact to '<CARD>' — invalid digit runs must survive verbatim
    (functions/text.plant_cards / card_redact)."""
    return TXT.card_redact(TXT.plant_cards(documents(spark, sf_dir)))


@query("text_fingerprint", pins=(
    ("scan pruned to doc_id,text",
     lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
    ("no shuffle (narrow projection)", lambda p: "Exchange" not in p),
    ("whole-stage codegen", lambda p: "codegen id" in p),
), oracle=f"""
            SELECT doc_id,
              list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                  list_transform(string_split(text, ' '),
                    w -> {_WH} % {TXT.FP_MOD})),
                (acc, v) -> (acc * {TXT.FP_BASE} + v) % {TXT.FP_MOD}) AS fingerprint
            FROM documents
        """)
def q_text_fingerprint(spark, sf_dir):
    return TXT.fingerprint(documents(spark, sf_dir))


@query("text_topk_terms", oracle="""
            WITH t AS (
              SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents
            )
            SELECT term, COUNT(*) AS df
            FROM t GROUP BY term
            ORDER BY df DESC, term LIMIT 20
        """)
def q_text_topk_terms(spark, sf_dir):
    """Corpus-level term document-frequency, top-20 by (df desc, term) —
    a deterministic cut even with ties (the corpus vocabulary is larger
    than the cut, so the tie-break genuinely decides the boundary)."""
    return TXT.doc_frequency(documents(spark, sf_dir), top_n=20)


@query("text_tfidf", pins=(
    ("four shuffles total (tf agg, df agg, corpus count, ONE window "
     "Exchange) — the doc_len and rank windows share theirs",
     lambda p: nodes(p, "Exchange") == 4
     and nodes(p, "Window") == 2),
    ("df and corpus-count join sides broadcast",
     lambda p: nodes(p, "BroadcastExchange") == 2),
    ("map-side partial aggregation for tf",
     lambda p: "partial_count" in p),
), oracle="""
            WITH w AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents
            ),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
            dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
            tot AS (SELECT COUNT(*) AS n_docs FROM documents),
            dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS doc_len FROM tf GROUP BY 1),
            s AS (
              SELECT tf.doc_id, tf.term, tf.tf, dft.df,
                     (1000000 * tf.tf * tot.n_docs)
                       // (dl.doc_len * dft.df) AS score_micro
              FROM tf
              CROSS JOIN tot
              JOIN dft USING (term)
              JOIN dl ON dl.doc_id = tf.doc_id
            ),
            r AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY score_micro DESC, term) AS rk
              FROM s
            )
            SELECT doc_id, term, tf, df, score_micro, CAST(rk AS INTEGER) AS rank
            FROM r WHERE rk <= 3
        """)
def q_text_tfidf(spark, sf_dir):
    """Per-doc top-3 salient terms by the integer TF-IDF ratio."""
    return TXT.tf_idf_topk(documents(spark, sf_dir), k=3)


@query("text_bm25_search", pins=(
    ("zero wide shuffles: no hash-partition Exchange anywhere (the "
     "only Exchange is the SinglePartition reduce of the 1-row "
     "totals aggregate)",
     lambda p: hash_exchanges(p) == 0),
    ("totals attach by broadcast, corpus never shuffles for the join",
     lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p),
    ("top-k runs as TakeOrdered, never a full sort",
     lambda p: "TakeOrderedAndProject" in p),
    ("totals pass reads only the text column",
     lambda p: "ReadSchema: struct<text:string>" in p),
), oracle="""
            WITH wd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            base AS (
              SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
                     CAST(len(list_filter(w, x -> x = 'join')) AS BIGINT) AS tf0,
                     CAST(len(list_filter(w, x -> x = 'hash')) AS BIGINT) AS tf1,
                     CAST(len(list_filter(w, x -> x = 'scan')) AS BIGINT) AS tf2
              FROM wd
            ),
            tot AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS total_len,
                     CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
                     CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
                     CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
              FROM base
            ),
            sc AS (
              SELECT doc_id, dl,
                     CAST((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS INTEGER)
                       AS n_hit,
                     CAST(
                       (CASE WHEN tf0 > 0 THEN
                         (((22000000 * tf0 * total_len)
                            // (10 * tf0 * total_len + 3 * total_len
                                + 9 * dl * n_docs))
                          * ((1000 * (2 * (n_docs - df0) + 1)) // (2 * df0 + 1)))
                         // 1000 ELSE 0 END)
                     + (CASE WHEN tf1 > 0 THEN
                         (((22000000 * tf1 * total_len)
                            // (10 * tf1 * total_len + 3 * total_len
                                + 9 * dl * n_docs))
                          * ((1000 * (2 * (n_docs - df1) + 1)) // (2 * df1 + 1)))
                         // 1000 ELSE 0 END)
                     + (CASE WHEN tf2 > 0 THEN
                         (((22000000 * tf2 * total_len)
                            // (10 * tf2 * total_len + 3 * total_len
                                + 9 * dl * n_docs))
                          * ((1000 * (2 * (n_docs - df2) + 1)) // (2 * df2 + 1)))
                         // 1000 ELSE 0 END)
                     AS BIGINT) AS bm25_micro
              FROM base CROSS JOIN tot
            )
            SELECT doc_id, CAST(dl AS INTEGER) AS dl, n_hit, bm25_micro,
                   CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id)
                        AS INTEGER) AS rank
            FROM sc WHERE n_hit > 0
            ORDER BY bm25_micro DESC, doc_id LIMIT 10
        """)
def q_text_bm25(spark, sf_dir):
    """Top-10 documents for the fixed query ('join','hash','scan') under
    log-free integer BM25 (functions/text.bm25_topk — zero wide shuffles:
    narrow per-doc tf projections, one broadcast totals row, TakeOrdered)."""
    return TXT.bm25_topk(documents(spark, sf_dir))


@query("text_phrase_search", pins=(
    ("zero shuffles: pure narrow projection, adjacency is doc-local "
     "shift-and-intersect algebra",
     lambda p: "Exchange" not in p),
    ("scan pruned to doc_id,text",
     lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
), oracle="""
            WITH wd AS (SELECT doc_id, string_split(text, ' ') AS w
                        FROM documents),
            ps AS (
              SELECT doc_id,
                     list_intersect(
                       list_transform(
                         list_filter(
                           list_transform(w, (x, i) ->
                             CASE WHEN x = 'hash' THEN i - 1 ELSE -1 END),
                           p -> p >= 0),
                         p -> p + 1),
                       list_filter(
                         list_transform(w, (x, i) ->
                           CASE WHEN x = 'join' THEN i - 1 ELSE -1 END),
                         p -> p >= 0)) AS s
              FROM wd
            )
            SELECT doc_id, CAST(len(s) AS INTEGER) AS n_phrase,
                   CAST(list_min(s) - 1 AS INTEGER) AS first_pos
            FROM ps WHERE len(s) > 0
        """)
def q_text_phrase(spark, sf_dir):
    """Exact-phrase matches for '"hash join"' (functions/text.phrase_search
    — zero shuffles: indexed-transform position sets + shift-and-intersect
    adjacency, all scan-side)."""
    return TXT.phrase_search(documents(spark, sf_dir))


@query("text_bigram_lm", oracle="""
            WITH wd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            occ AS (
              SELECT doc_id,
                     unnest(CASE WHEN len(w) < 2 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, len(w)),
                                 i -> w[i] || ' ' || w[i+1]) END) AS bigram
              FROM wd
            ),
            bg AS (SELECT bigram, COUNT(*) AS c_bigram FROM occ GROUP BY 1),
            pre AS (SELECT split_part(bigram, ' ', 1) AS prefix,
                           COUNT(*) AS c_prefix FROM occ GROUP BY 1),
            voc AS (SELECT COUNT(DISTINCT wrd) AS v
                    FROM (SELECT unnest(w) AS wrd FROM wd)),
            j AS (
              SELECT o.doc_id,
                     (1000000 * (b.c_bigram + 1)) // (p.c_prefix + voc.v) AS p_micro
              FROM occ o
              JOIN bg b USING (bigram)
              JOIN pre p ON split_part(o.bigram, ' ', 1) = p.prefix
              CROSS JOIN voc
            )
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(CAST(SUM(p_micro) AS BIGINT) // COUNT(*) AS BIGINT) AS score_micro
            FROM j GROUP BY 1
        """)
def q_text_bigram_lm(spark, sf_dir):
    """Corpus-trained bigram LM fluency score (log-free integer ratios —
    IEEE ln is not cross-engine bit-exact, the same move as text_tfidf)."""
    return TXT.bigram_lm_score(documents(spark, sf_dir))
