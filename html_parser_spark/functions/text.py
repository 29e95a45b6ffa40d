"""Text-analysis functions for training-data pipelines, all JVM-side
(built-in ``pyspark.sql.functions`` / SQL expressions inside whole-stage
codegen — no Python UDFs):

  - language ID (stopword-ratio heuristic)
  - quality scoring (length / word-shape ratios, integer-exact)
  - token counting (whitespace + a BPE-ish ceil(len/4) subword estimate)
  - document fingerprinting (Rabin-Karp rolling hash over word hashes)

Every function is engine-portable by construction: the arithmetic is integer
or md5-based so an ANSI-SQL oracle (DuckDB) reproduces values exactly (see
registry/text.py). At 100 TB these are single-pass narrow
projections — no shuffle, full predicate/column pushdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Shared constants (mirrored literally in the SQL oracles).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")
FP_BASE = 1000003
FP_MOD = 2147483647  # 2^31 - 1: acc*B + h < 2^51, no bigint overflow

# word -> 32-bit int hash, identical in Spark and DuckDB:
#   Spark:  cast(conv(substr(md5(w),1,8),16,10) as bigint)
#   DuckDB: CAST('0x'||substr(md5(w),1,8) AS BIGINT)
WORD_HASH = "cast(conv(substr(md5({w}),1,8),16,10) as bigint)"


def with_words(df: DataFrame) -> DataFrame:
    return df.withColumn("words", F.split(F.col("text"), " "))


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_stop, lang_pred) — stopword-ratio language ID.

    lang_pred='en' iff stopword mass >= 3% of words (integer arithmetic:
    1000*n_stop >= 30*n_words).
    """
    stop_arr = "array(" + ",".join(f"'{w}'" for w in STOPWORDS) + ")"
    return with_words(docs).select(
        "doc_id",
        F.expr("size(words)").alias("n_words"),
        F.expr(f"size(filter(words, w -> array_contains({stop_arr}, w)))").alias("n_stop"),
    ).withColumn(
        "lang_pred",
        F.when(F.expr("1000 * n_stop >= 30 * n_words"), F.lit("en")).otherwise(F.lit("unk")),
    )


def quality(docs: DataFrame, keep: tuple = ()) -> DataFrame:
    """Integer-exact quality metrics per document:

    n_chars, n_words, n_distinct_words, max_word_len, chars-per-word permille,
    BPE-ish subword token count (sum of ceil(len(w)/4)), and a boolean-ish
    quality_ok (0/1 int) gate typical of pretraining filters.

    keep: extra input columns to carry through (e.g. keep=("text",) when a
    downstream stage — dedup, export — still needs the content)."""
    return with_words(docs).select(
        "doc_id",
        *keep,
        F.expr("length(text)").alias("n_chars"),
        F.expr("size(words)").alias("n_words"),
        F.expr("size(array_distinct(words))").alias("n_distinct_words"),
        F.expr("aggregate(words, 0, (m, w) -> greatest(m, length(w)))").alias("max_word_len"),
        F.expr("aggregate(words, 0L, (s, w) -> s + div(length(w) + 3, 4))").alias("n_tokens_bpe"),
        F.expr("div(1000 * length(text), size(words))").alias("chars_per_word_permille"),
    ).withColumn(
        "quality_ok",
        F.expr(
            "cast(n_words >= 5 and n_words <= 100000 and max_word_len <= 40 "
            "and 3 * n_distinct_words >= n_words as int)"
        ),
    )


def doc_frequency(docs: DataFrame, top_n: int = 0) -> DataFrame:
    """(term, df): per-term DOCUMENT frequency over the corpus (distinct
    words per doc, so a term counts once per document). top_n > 0 keeps the
    top terms by (df desc, term asc) — a deterministic cut even with ties.

    Scale shape: the explode is inherent to corpus-level term stats, but the
    groupBy is map-side combinable (partial counts per task before the one
    Exchange) and the top-k runs as TakeOrdered, never a full sort."""
    df_t = (
        with_words(docs)
        .select(F.explode(F.expr("array_distinct(words)")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    if top_n:
        df_t = df_t.orderBy(F.desc("df"), "term").limit(top_n)
    return df_t


def tf_idf_topk(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k salient terms by a LOG-FREE integer TF-IDF:

        score_micro = div(1e6 * tf * n_docs, doc_len * df)

    i.e. term-frequency normalized by document length, weighted by inverse
    document frequency as a pure ratio (no ln) — monotone in the classic
    tf-idf for fixed doc, and integer-exact so the DuckDB oracle compares
    bit-for-bit (IEEE ln is not correctly-rounded across engines). The
    int64 product bounds the corpus at ~1e12/doc_len docs; rescale the 1e6
    factor (or go double) beyond that.

    Plan shape: tf groupBy is map-side combinable; the df join broadcasts
    when the vocabulary is small (AQE decides); doc_len and rank share ONE
    window Exchange on doc_id. Ties cut deterministically by (score desc,
    term asc)."""
    from pyspark.sql import Window

    words = with_words(docs).select("doc_id", F.explode("words").alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    total = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(doc_frequency(docs), "term")
        .crossJoin(F.broadcast(total))
        .withColumn("doc_len", F.sum("tf").over(Window.partitionBy("doc_id")))
        .withColumn(
            "score_micro",
            F.expr("div(1000000 * tf * n_docs, doc_len * df)"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_micro"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score_micro", "rank")
    )


def bigram_lm_score(docs: DataFrame) -> DataFrame:
    """Corpus-trained bigram language-model fluency score per document —
    the classic perplexity-style quality filter, in LOG-FREE integer
    arithmetic so the DuckDB oracle matches bit-for-bit, with add-one
    (Laplace) smoothing over the corpus vocabulary V:

        p_micro(w1 w2)  = div(1e6 * (C(w1 w2) + 1), C(w1 ._) + V)
        score_micro     = div(sum of p_micro over the doc's bigrams,
                              n_bigrams)

    (C(w1 ._) counts w1 as a bigram PREFIX — the proper conditional
    denominator.) The smoothing is load-bearing, not a nicety: the raw
    ratio degenerates to p = 1/1 for hapax prefixes, scoring GIBBERISH
    with unique words at the maximum (observed before smoothing); with
    +V in the denominator a once-seen transition scores ~2e6/V while
    genuinely common transitions keep high mass. High score = the doc's
    word transitions are common in the corpus. The model trains on the
    same corpus it scores (standard for quality filtering; a held-out
    split is a caller choice of `docs`).

    Plan shape: bigram and prefix counts are map-side-combinable groupBys;
    a doc's bigram stream joins the count tables on the bigram/prefix keys
    (AQE broadcasts small vocabularies) and folds back per doc. The
    explode is inherent to corpus LM training; nothing is quadratic.
    Docs with fewer than 2 words have no bigrams and emit no row."""
    w = "words"
    bigram_expr = (
        f"filter(zip_with({w}, slice({w}, 2, greatest(size({w}) - 1, 0)), "
        "(x, y) -> concat(x, ' ', y)), s -> s is not null)"
    )
    occ = with_words(docs).select(
        "doc_id", F.explode(F.expr(bigram_expr)).alias("bigram")
    )
    bg_counts = occ.groupBy("bigram").agg(F.count("*").alias("c_bigram"))
    pre_counts = (
        occ.select(F.expr("split_part(bigram, ' ', 1)").alias("prefix"))
        .groupBy("prefix")
        .agg(F.count("*").alias("c_prefix"))
    )
    vocab = (
        with_words(docs)
        .select(F.explode("words").alias("wrd"))
        .agg(F.count_distinct("wrd").alias("v"))
    )
    return (
        occ.join(bg_counts, "bigram")
        .withColumn("prefix", F.expr("split_part(bigram, ' ', 1)"))
        .join(pre_counts, "prefix")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "p_micro", F.expr("div(1000000 * (c_bigram + 1), c_prefix + v)")
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.expr("div(sum(p_micro), count(*))").alias("score_micro"),
        )
    )


# Word-bigram expression fragments over a `words` array column, shared by
# repetition() and filter_funnel() so both paths (and their oracles) agree
# on the exact same bigram semantics. zip_with over slices, never indexing a
# lambda-built array (per-element re-eval trap — CLAUDE.md).
_BIGRAMS = (
    "filter(zip_with(words, slice(words, 2, greatest(size(words) - 1, 0)), "
    "(x, y) -> concat(x, ' ', y)), s -> s is not null)"
)
# multiplicity of the most frequent bigram WITHOUT an aggregation shuffle:
# sort the per-row bigram array and fold a longest-equal-run accumulator.
_RUN_BEST = (
    f"aggregate(array_sort({_BIGRAMS}), "
    "named_struct('prev', cast(null as string), 'run', 0, 'best', 0), "
    "(a, x) -> named_struct("
    "  'prev', x, "
    "  'run', if(a.prev is not null and x = a.prev, a.run + 1, 1), "
    "  'best', greatest(a.best, "
    "          if(a.prev is not null and x = a.prev, a.run + 1, 1))), "
    "a -> a.best)"
)


def repetition(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document — the standard
    pretraining filter for boilerplate-ish / degenerate text, computed as
    a SHUFFLE-FREE narrow projection (no explode, no groupBy):

      - dup_word_permille:   1000 * (n_words - n_distinct) / n_words
      - top_bigram_count:    multiplicity of the most frequent word bigram
      - top_bigram_permille: 1000 * top_bigram_count / n_bigrams
      - rep_ok:              top_bigram_permille <= 66 AND
                             dup_word_permille <= 600  (thresholds chosen
                             to split this corpus ~p90, like Gopher's 0.18
                             top-2gram fraction splits web text)

    The per-doc "most frequent bigram" avoids any aggregation shuffle by
    sorting the bigram array and folding a longest-equal-run accumulator
    over it (`aggregate` with a struct state) — all inside whole-stage
    codegen, O(n log n)/row. Bigrams come from zip_with over slices, never
    indexing a lambda-built array (per-element re-eval trap)."""
    bigrams, run_best = _BIGRAMS, _RUN_BEST
    return (
        with_words(docs)
        .select(
            "doc_id",
            F.expr("size(words)").alias("n_words"),
            F.expr(f"size({bigrams})").alias("n_bigrams"),
            F.expr(run_best).alias("top_bigram_count"),
            F.expr(
                "div(1000 * (size(words) - size(array_distinct(words))), size(words))"
            ).alias("dup_word_permille"),
        )
        .withColumn(
            "top_bigram_permille",
            F.expr(
                "if(n_bigrams = 0, cast(0 as bigint), "
                "div(1000 * top_bigram_count, n_bigrams))"
            ),
        )
        .withColumn(
            "rep_ok",
            F.expr(
                "cast(top_bigram_permille <= 66 and dup_word_permille <= 600 as int)"
            ),
        )
    )


def filter_funnel(docs: DataFrame) -> DataFrame:
    """The FineWeb/Gopher-style corpus filter FUNNEL, composed end-to-end
    in ONE pass: language-ID -> quality gate -> repetition gate -> exact
    dedup keep-rule, reported as per-source cumulative survivor counts
    plus the token budget of the kept corpus — the one-page answer a
    pretraining-data curator asks of a new crawl snapshot.

    Output (one row per source):
      n_docs       docs ingested
      n_lang       ... that pass language-ID (stopword mass >= 3%)
      n_quality    ... that also pass the quality gate (quality() rules)
      n_rep        ... that also pass the repetition gate (repetition())
      n_kept       ... that also win the exact-dedup keep-rule
                   (min doc_id per md5(text), ties broken across sources
                   globally — a cross-source copy survives exactly once)
      tokens_kept  sum of BPE-ish subword token counts over kept docs

    Every stage reuses the EXACT expressions of the standalone operators
    (lang_id / quality / repetition / exact-dedup), so the funnel's gate
    semantics and the per-operator queries can never drift apart.

    Scale shape: all per-doc signals are one narrow whole-stage-codegen
    projection (no explode); the dedup keep-rule is a conditional
    MIN-over-window on md5(text) — survivor-min computed on the FULL frame
    (min(case when pass_rep then doc_id end)), so no second corpus pass —
    and the funnel is a map-side-combinable groupBy(source). TWO Exchanges
    total on corpus-sized data, both on keys (md5, source) that stay
    uniform at 100 TB."""
    from pyspark.sql import Window

    stop_arr = "array(" + ",".join(f"'{w}'" for w in STOPWORDS) + ")"
    sig = with_words(docs).select(
        "doc_id",
        "source",
        F.expr("md5(text)").alias("text_md5"),
        F.expr("size(words)").alias("n_words"),
        F.expr(
            f"size(filter(words, x -> array_contains({stop_arr}, x)))"
        ).alias("n_stop"),
        F.expr("size(array_distinct(words))").alias("n_distinct_words"),
        F.expr(
            "aggregate(words, 0, (m, x) -> greatest(m, length(x)))"
        ).alias("max_word_len"),
        F.expr(
            "aggregate(words, 0L, (s, x) -> s + div(length(x) + 3, 4))"
        ).alias("n_tokens_bpe"),
        F.expr(f"size({_BIGRAMS})").alias("n_bigrams"),
        F.expr(_RUN_BEST).alias("top_bigram_count"),
        F.expr(
            "div(1000 * (size(words) - size(array_distinct(words))), size(words))"
        ).alias("dup_word_permille"),
    )
    flags = (
        sig.withColumn(
            "pass_lang", F.expr("cast(1000 * n_stop >= 30 * n_words as int)")
        )
        .withColumn(
            "pass_quality",
            F.expr(
                "cast(pass_lang = 1 and n_words >= 5 and n_words <= 100000 "
                "and max_word_len <= 40 "
                "and 3 * n_distinct_words >= n_words as int)"
            ),
        )
        .withColumn(
            "pass_rep",
            F.expr(
                "cast(pass_quality = 1 "
                "and if(n_bigrams = 0, cast(0 as bigint), "
                "       div(1000 * top_bigram_count, n_bigrams)) <= 66 "
                "and dup_word_permille <= 600 as int)"
            ),
        )
    )
    w = Window.partitionBy("text_md5")
    staged = flags.withColumn(
        "keep_min",
        F.min(F.expr("case when pass_rep = 1 then doc_id end")).over(w),
    ).withColumn(
        "is_kept", F.expr("cast(pass_rep = 1 and doc_id = keep_min as int)")
    )
    return staged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.expr("sum(pass_lang)").alias("n_lang"),
        F.expr("sum(pass_quality)").alias("n_quality"),
        F.expr("sum(pass_rep)").alias("n_rep"),
        F.expr("sum(is_kept)").alias("n_kept"),
        F.expr(
            "sum(case when is_kept = 1 then n_tokens_bpe else 0L end)"
        ).alias("tokens_kept"),
    )


# PII patterns shared by the Spark path and the SQL oracle verbatim.
# Character-class dot ([.]) instead of an escape: backslash escapes differ
# between Spark SQL string literals and DuckDB, a literal class does not.
PII_EMAIL_RE = "[a-z0-9]+@[a-z]+[.][a-z]+"
PII_NUM_RE = "[0-9]{4,}"


def plant_pii(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, text_pii) with deterministic synthetic PII
    appended (the corpus text is pure [a-z ] by invariant, so real PII
    cannot occur): an email whose local part is md5 hex chars, a numeric
    id from an md5-derived decimal, and for every 3rd doc a second email —
    mirroring the plant_dups / multimodal md5-stream fixture style so the
    redaction oracle is closed-form."""
    second = (
        "if(doc_id % 3 = 0, "
        "concat(' or ', substr(md5(text), 9, 4), '@mail.net'), '')"
    )
    return docs.select(
        "doc_id",
        F.expr(
            "concat(text, ' contact ', substr(md5(text), 1, 6), '@example.com', "
            f"{second}, "
            "' ref ', conv(substr(md5(text), 7, 6), 16, 10))"
        ).alias("text_pii"),
    )


def pii_redact(docs: DataFrame) -> DataFrame:
    """PII scrubbing over the `text_pii` column, entirely JVM-side
    (regexp_replace / regexp_extract_all inside whole-stage codegen — the
    100 TB path is a narrow projection with full pushdown): emails ->
    '<EMAIL>' first, then 4+ digit runs -> '<ID>' (ids are counted AFTER
    email removal so hex digits inside a redacted local part are never
    double-counted).

    Returns (doc_id, n_emails, n_ids, text_clean)."""
    t1 = f"regexp_replace(text_pii, '{PII_EMAIL_RE}', '<EMAIL>')"
    return docs.select(
        "doc_id",
        F.expr(
            f"cast(size(regexp_extract_all(text_pii, '{PII_EMAIL_RE}', 0)) as int)"
        ).alias("n_emails"),
        F.expr(
            f"cast(size(regexp_extract_all({t1}, '{PII_NUM_RE}', 0)) as int)"
        ).alias("n_ids"),
        F.expr(f"regexp_replace({t1}, '{PII_NUM_RE}', '<ID>')").alias("text_clean"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint) — Rabin-Karp rolling hash over the word stream:
    acc = (acc * 1000003 + h(word)) mod (2^31-1), h = first 32 md5 bits.
    Order-sensitive (a true rolling fingerprint, not a bag hash)."""
    h = WORD_HASH.format(w="w")
    return with_words(docs).select(
        "doc_id",
        F.expr(
            f"aggregate(transform(words, w -> pmod({h}, {FP_MOD}L)), 0L, "
            f"(acc, v) -> pmod(acc * {FP_BASE}L + v, {FP_MOD}L))"
        ).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

BM25_TERMS = ("join", "hash", "scan")  # default demo query (corpus vocab)


def bm25_topk(docs: DataFrame, terms: tuple = BM25_TERMS, k: int = 10) -> DataFrame:
    """Top-k documents for a fixed term query under a LOG-FREE integer BM25
    (k1 = 1.2, b = 0.75), the classic quality-weighted retrieval scorer:

        tf_part  = div(22e6 * tf * total_len,
                       10*tf*total_len + 3*total_len + 9*dl*n_docs)
        idf_milli = div(1000 * (2*(n_docs - df) + 1), 2*df + 1)
        score    += div(tf_part * idf_milli, 1000)        per query term

    which is BM25 with ln((N-df+.5)/(df+.5)) replaced by the pure ratio it
    wraps — monotone in df, and integer-exact so the DuckDB oracle compares
    bit-for-bit (IEEE ln is not correctly rounded across engines; same move
    as tf_idf_topk/bigram_lm_score). The tf saturation term is exact BM25:
    multiplying numerator and denominator of tf*(k1+1)/(tf + k1*(1-b+b*dl/
    avgdl)) by 10*total_len clears every fraction (avgdl = total_len/n_docs).
    int64 headroom: 22e6 * tf * total_len stays < 2^63 while tf*total_len
    < 4e11 — a 1e9-word corpus with 400-occurrence docs; rescale the 1e6
    factor beyond that.

    Scale shape: ZERO wide shuffles. Per-doc tf for each query term is a
    narrow `size(filter(words, ...))` projection (no explode of non-query
    words), the corpus totals (n_docs, total_len, per-term df) reduce to ONE
    row via a map-side-combinable global agg that broadcasts back, and the
    top-k is a TakeOrdered, never a full sort. Two scans of the corpus
    total — the same I/O as any one aggregation.
    """
    tf_cols = [
        F.expr(f"size(filter(words, w -> w = '{t}'))").alias(f"tf{i}")
        for i, t in enumerate(terms)
    ]
    base = with_words(docs).select(
        "doc_id", F.expr("size(words)").alias("dl"), *tf_cols
    )
    totals = base.agg(
        F.count("*").alias("n_docs"),
        F.expr("cast(sum(dl) as bigint)").alias("total_len"),
        *[
            F.expr(f"cast(sum(case when tf{i} > 0 then 1 else 0 end) as bigint)")
            .alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    score_terms = []
    for i in range(len(terms)):
        tf_part = (
            f"div(22000000L * tf{i} * total_len, "
            f"10L * tf{i} * total_len + 3L * total_len + 9L * dl * n_docs)"
        )
        idf = f"div(1000L * (2L * (n_docs - df{i}) + 1L), 2L * df{i} + 1L)"
        score_terms.append(
            f"(case when tf{i} > 0 then div(({tf_part}) * ({idf}), 1000L) "
            "else 0L end)"
        )
    hits = " + ".join(f"(case when tf{i} > 0 then 1 else 0 end)" for i in range(len(terms)))
    scored = (
        base.join(F.broadcast(totals))
        .withColumn("n_hit", F.expr(f"cast({hits} as int)"))
        .withColumn(
            "bm25_micro", F.expr("cast(" + " + ".join(score_terms) + " as bigint)")
        )
        .where("n_hit > 0")
    )
    from pyspark.sql import Window

    top = scored.orderBy(F.desc("bm25_micro"), "doc_id").limit(k)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25_micro"), "doc_id"))
        .cast("int"),
    ).select("doc_id", "dl", "n_hit", "bm25_micro", "rank")


# ---------------------------------------------------------------------------
# Positional phrase search
# ---------------------------------------------------------------------------

PHRASE = ("hash", "join")  # default demo phrase (corpus vocab)


def phrase_search(docs: DataFrame, phrase: tuple = PHRASE) -> DataFrame:
    """Exact phrase matching — '"hash join"', not bag-of-words: documents
    where the phrase's words occur at CONSECUTIVE positions, with the match
    count and first match offset. The positional complement to bm25_topk.

    (doc_id, n_phrase, first_pos) for docs with >= 1 match; first_pos is
    the 0-based word offset of the first occurrence.

    Scale shape: ZERO shuffles — a pure narrow projection. Per-term
    position sets come from one indexed `transform` over the words array
    (the lambda indexes its SOURCE argument, which Spark evaluates once
    per row — not the per-element re-evaluation trap), and adjacency is a
    shift-and-intersect fold: S_1 = pos(w1); S_j = (S_{j-1} + 1) ∩
    pos(wj); matches = |S_k|. No posting-list join, no explode: the same
    doc-local algebra an inverted index would run per candidate, applied
    scan-side with full predicate pushdown potential. At 100 TB this is
    the map stage of a search; a real serving path would persist the
    per-term position arrays as the positional index.
    """
    pos_exprs = [
        f"filter(transform(words, (x, i) -> if(x = '{t}', i, -1)), p -> p >= 0)"
        for t in phrase
    ]
    s = pos_exprs[0]
    for nxt in pos_exprs[1:]:
        s = f"array_intersect(transform({s}, p -> p + 1), {nxt})"
    k = len(phrase)
    return (
        with_words(docs)
        .select(
            "doc_id",
            F.expr(f"size({s})").alias("n_phrase"),
            F.expr(f"array_min({s}) - {k - 1}").alias("first_pos"),
        )
        .where("n_phrase > 0")
    )


# ---------------------------------------------------------------------------
# Luhn-validated card-number redaction
# ---------------------------------------------------------------------------

def luhn_sum_expr(digits: str) -> str:
    """SQL expr: Luhn weighted digit sum of a digit-string expression as it
    would sit LEFT-ALIGNED in a 16-digit number — 1-based odd positions
    doubled (with 9-wrap). Works for the 15-digit payload (check digit
    position 16 is even, weight 1) and for full 16-digit candidates."""
    return (
        f"aggregate(transform(split({digits}, ''), (d, i) -> "
        "case when i % 2 = 0 then if(2 * cast(d as int) > 9, "
        "2 * cast(d as int) - 9, 2 * cast(d as int)) "
        "else cast(d as int) end), 0, (a, b) -> a + b)"
    )


# 15-digit payload from the fresh md5(text||'card') stream (12 hex chars
# < 2.8e14, left-padded); a SECOND, always-invalid candidate for every
# 4th doc from chars 13..24
_CARD_PAYLOAD = (
    "lpad(cast(conv(substr(md5(concat(text, 'card')), 1, 12), 16, 10) "
    "as string), 15, '0')"
)
_CARD2_PAYLOAD = (
    "lpad(cast(conv(substr(md5(concat(text, 'card')), 13, 12), 16, 10) "
    "as string), 15, '0')"
)


def plant_cards(docs: DataFrame) -> DataFrame:
    """(doc_id, text_cards): append one 16-digit card-like number per doc —
    Luhn-VALID for even doc_ids, invalid (check digit shifted by 5) for
    odd — plus a second always-invalid candidate for every 4th doc. Same
    md5-stream fixture style as plant_pii; the corpus alphabet ([a-z ])
    guarantees no accidental digit runs."""
    s1 = luhn_sum_expr(f"({_CARD_PAYLOAD})")
    check_valid = f"(10 - ({s1}) % 10) % 10"
    check = f"if(doc_id % 2 = 0, {check_valid}, ({check_valid} + 5) % 10)"
    card1 = f"concat({_CARD_PAYLOAD}, cast({check} as string))"
    s2 = luhn_sum_expr(f"({_CARD2_PAYLOAD})")
    check2_bad = f"((10 - ({s2}) % 10) % 10 + 3) % 10"
    card2 = (
        f"if(doc_id % 4 = 0, concat(' alt ', {_CARD2_PAYLOAD}, "
        f"cast({check2_bad} as string)), '')"
    )
    return docs.select(
        "doc_id",
        F.expr(f"concat(text, ' pay ', {card1}, {card2})").alias("text_cards"),
    )


def card_redact(docs: DataFrame) -> DataFrame:
    """Checksum-gated PII scrubbing of `text_cards`: find 16-digit runs,
    validate each with the Luhn checksum, and redact ONLY the valid ones
    to '<CARD>' — the real-world card-redaction semantics (random digit
    runs must survive; a blanket digit regex would mangle order ids,
    hashes, timestamps).

    All JVM-side: regexp_extract_all proposes candidates, a transform
    validates, and an aggregate fold string-replaces each valid candidate
    — a narrow projection at 100 TB.

    Returns (doc_id, n_candidates, n_valid, text_clean)."""
    cands = f"regexp_extract_all(text_cards, '(^|[^0-9])([0-9]{{16}})($|[^0-9])', 2)"
    valid = f"filter({cands}, c -> ({luhn_sum_expr('c')}) % 10 = 0)"
    return docs.select(
        "doc_id",
        F.expr(f"cast(size({cands}) as int)").alias("n_candidates"),
        F.expr(f"cast(size({valid}) as int)").alias("n_valid"),
        F.expr(
            f"aggregate({valid}, text_cards, (t, c) -> replace(t, c, '<CARD>'))"
        ).alias("text_clean"),
    )


# ---------------------------------------------------------------------------
# Multiscript (unicode) fixtures + script identification
# ---------------------------------------------------------------------------
# The documents.text invariant is pure [a-z ] (the extraction oracles depend
# on it), so the text operators above only ever see ASCII in the gate. A
# 100 TB web corpus is NOT ASCII: these two pieces give the gate real
# unicode coverage without touching the pinned tables —
#   * synth_multiscript derives a deterministic UNICODE text column from a
#     fresh md5(text||'uni<i>') stream (the CLAUDE.md fixture rule), one
#     writing system per doc_id % 8: Latin, accented Latin, Greek,
#     Cyrillic, Hebrew (RTL), Arabic (RTL), CJK, Hangul — all BMP, so
#     Spark length()/char comparisons and DuckDB codepoint math agree;
#   * script_profile is the GENERIC operator: per-codepoint-range counts +
#     dominant-script vote over any string column, pure JVM expressions
#     (char range comparisons under UTF8 binary collation ARE codepoint
#     comparisons), no shuffle, no Python.

# (name, synth base codepoint, synth block size). Synth blocks are chosen
# strictly inside the classifier ranges below so expected == predicted is
# provable per construction.
SCRIPT_BLOCKS = (
    ("latin", 0x61, 26),       # a..z
    ("accented", 0xE0, 23),    # à..ö (Latin-1 letters, stops before ÷)
    ("greek", 0x3B1, 25),      # α..ω
    ("cyrillic", 0x430, 32),   # а..я
    ("hebrew", 0x5D0, 27),     # א..ת (RTL)
    ("arabic", 0x627, 20),     # ا..غ (RTL)
    ("cjk", 0x4E00, 128),      # CJK Unified Ideographs head
    ("hangul", 0xAC00, 128),   # Hangul Syllables head
)

# Classifier ranges (full standard blocks — the operator is generic, not
# synth-shaped). latin gets both cases; ranges are mutually disjoint.
SCRIPT_RANGES = (
    ("latin", ((0x61, 0x7A), (0x41, 0x5A))),
    # Latin-1 letters + Latin Extended-A, EXCLUDING U+00D7 (×) and U+00F7 (÷)
    # which sit inside the Latin-1 letter block but are not letters
    ("accented", ((0xC0, 0xD6), (0xD8, 0xF6), (0xF8, 0x17F))),
    ("greek", ((0x370, 0x3FF),)),
    ("cyrillic", ((0x400, 0x4FF),)),
    ("hebrew", ((0x590, 0x5FF),)),
    ("arabic", ((0x600, 0x6FF),)),
    ("cjk", ((0x4E00, 0x9FFF),)),
    ("hangul", ((0xAC00, 0xD7A3),)),
)

MULTISCRIPT_CHARS = 30  # 24 letters + 6 spaces per doc


def synth_multiscript(docs: DataFrame) -> DataFrame:
    """(doc_id, script_expected, utext): deterministic unicode text.

    Char i of doc d: space when i % 5 = 4, else codepoint
    base(d % 8) + (hexbyte_i % size) where hexbyte_i is the i-th byte of
    md5(text||'uni0') || md5(text||'uni1') (64 hex chars = 32 bytes, 30
    used). The string materializes via unhex -> decode UTF-16BE (every
    BMP codepoint is one 4-hex-digit code unit); the DuckDB oracle builds
    the identical string with chr() + array_to_string, so the gate pins
    the two engines' unicode plumbing against each other end-to-end."""
    byte_v = "cast(conv(substr(hx, 2*i + 1, 2), 16, 10) as int)"
    base_case = " ".join(
        f"when {i} then {base} + pmod({byte_v}, {size})"
        for i, (_n, base, size) in enumerate(SCRIPT_BLOCKS)
    )
    name_arr = "array(" + ",".join(f"'{n}'" for n, _b, _s in SCRIPT_BLOCKS) + ")"
    # only the matching CASE branch evaluates, so the conv appears once per
    # element at runtime even though it is inlined per branch
    cp = f"if(i % 5 = 4, 32, case pmod(doc_id, 8) {base_case} end)"
    # hx is a BOUND COLUMN before the lambda touches it — inlining the md5
    # expression into the transform would re-hash per element (CLAUDE.md
    # lambda-indexing trap)
    return (
        docs.withColumn(
            "hx",
            F.expr(
                "concat(md5(concat(text, 'uni0')), md5(concat(text, 'uni1')))"
            ),
        )
        .select(
            "doc_id",
            F.expr(f"element_at({name_arr}, cast(pmod(doc_id, 8) as int) + 1)")
            .alias("script_expected"),
            F.expr(
                f"decode(unhex(array_join(transform(sequence(0, {MULTISCRIPT_CHARS - 1}), "
                f"i -> lpad(hex({cp}), 4, '0')), '')), 'UTF-16BE')"
            ).alias("utext"),
        )
    )


def script_profile(docs: DataFrame) -> DataFrame:
    """Per-document writing-system profile of the `utext` column:
    (doc_id, utext, n_chars, n_space, n_<script> x 8, n_other,
    script_pred). Counts are per-codepoint-range (SCRIPT_RANGES);
    script_pred is the argmax with ties broken by block order (left fold
    over (cnt, name) structs, seeded at (0, 'none') so a doc with no
    letters at all predicts 'none' — the oracle mirrors the fold with
    list_reduce)."""
    chars = "filter(split(utext, ''), c -> c <> '')"
    out = docs.withColumn("_cs", F.expr(chars)).select(
        "doc_id",
        "utext",
        F.expr("length(utext)").alias("n_chars"),
        F.expr("cast(size(filter(_cs, c -> c = ' ')) as int)").alias("n_space"),
        *[
            F.expr(
                "cast(size(filter(_cs, c -> "
                + " or ".join(
                    f"(c >= '{chr(lo)}' and c <= '{chr(hi)}')" for lo, hi in ranges
                )
                + ")) as int)"
            ).alias(f"n_{name}")
            for name, ranges in SCRIPT_RANGES
        ],
    )
    total = " + ".join(f"n_{name}" for name, _r in SCRIPT_RANGES)
    structs = ", ".join(
        f"struct(n_{name} as cnt, '{name}' as s)" for name, _r in SCRIPT_RANGES
    )
    return out.withColumn(
        "n_other", F.expr(f"n_chars - n_space - ({total})")
    ).withColumn(
        "script_pred",
        F.expr(
            f"aggregate(array({structs}), "
            "struct(cast(0 as int) as cnt, 'none' as s), "
            "(a, b) -> if(b.cnt > a.cnt, b, a)).s"
        ),
    )


# CJK ideographs + kana + Hangul: scripts that do not delimit words with
# spaces — a whitespace tokenizer undercounts them by ~an order of
# magnitude, which skews every tokens-per-doc budget in a multilingual
# corpus.
_NOSPACE_CLASS = (
    r"[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}\\x{AC00}-\\x{D7A3}]"
)


def token_count_script_aware(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_ws_tokens, n_tokens_aware): script-aware token estimate.
    Every CJK/Hangul CHARACTER counts as one token (the common
    char-per-token approximation for unsegmented scripts); the remaining
    text — with those chars treated as separators — contributes its
    whitespace words. For pure space-delimited text the two columns are
    equal; for CJK text n_ws_tokens is the misleading number this
    operator exists to correct. Narrow JVM projection, no shuffle."""
    nospace = _NOSPACE_CLASS
    words = f"filter(split({text_col}, ' '), s -> s != '')"
    residue_words = (
        f"filter(split(regexp_replace({text_col}, '{nospace}', ' '), ' '), "
        "s -> s != '')"
    )
    n_nospace = (
        f"length({text_col}) - "
        f"length(regexp_replace({text_col}, '{nospace}', ''))"
    )
    return docs.select(
        "doc_id",
        F.expr(f"cast(size({words}) as int)").alias("n_ws_tokens"),
        F.expr(
            f"cast(size({residue_words}) + {n_nospace} as int)"
        ).alias("n_tokens_aware"),
    )
