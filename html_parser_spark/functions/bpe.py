"""Byte-pair-encoding tokenizer: distributed train + exact encode.

A training-data pipeline budgets documents in SUBWORD tokens, not words —
sequence packing, corpus mixing, and dedup thresholds all key off real
token counts (the word-proxy count `corpus_pack_sequences` used before
round 5 undercounts long words and collapses morphology). This module
implements the classic BPE trainer (Sennrich, Haddow & Birch 2016,
"Neural Machine Translation of Rare Words with Subword Units") as fixed
deterministic rounds of Spark aggregations, exactly replayable in SQL —
the same bit-exact-oracle discipline as the kmeans/pagerank fixed-round
operators.

Algorithm (per published description, nothing engine-specific):
  * corpus -> (distinct word, count) table; each word starts as its
    character sequence plus a terminal '</w>' end-of-word marker (merges
    never cross word boundaries; the marker lets suffix merges differ
    from in-stem merges).
  * each round: count adjacent symbol pairs weighted by word count, merge
    the most frequent pair everywhere (left-to-right, non-overlapping),
    record it. Ties break deterministically by (count DESC, left ASC,
    right ASC) — both engines compare ASCII strings bytewise, so the
    replay is exact.
  * encoding any word = applying the recorded merges in rank order, which
    reproduces the training segmentation for in-vocabulary words (the
    standard BPE property the tests pin).

Scale shape (10^12 docs):
  * the word-count table is ONE map-side-combinable groupBy over the
    corpus (the same shuffle text_topk_terms pays) — the corpus is never
    touched again during training;
  * each round runs on the distinct-word table only: a combinable pair
    groupBy, a TakeOrdered(1) argmax (no full sort), ONE collected row
    (bounded control-plane, the kmeans convention), and a `cache.checkpoint`
    that keeps round r+1's plan from re-deriving rounds 1..r (the round it
    replaces is released at once);
  * token counting is the bloom-probe shape (functions/sketch.py): the
    per-word token lengths fold into ONE broadcast map row, and each
    document counts its tokens ROW-LOCALLY — zero wide shuffle on the
    corpus side. Out-of-vocabulary words fall back (lazily, CASE-guarded)
    to the exact merge-fold expression. For vocabularies too large for
    one broadcast row, encode distinct words once and shuffle-join —
    bpe_encode_words is that building block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache

BPE_MERGES = 16  # gate default: enough rounds to build multi-char subwords
EOW = "</w>"


def _q(sym: str) -> str:
    """SQL-quote a symbol (corpus symbols are [a-z] + the marker, but the
    expression builder must not be injectable through exotic input)."""
    return sym.replace("\\", "\\\\").replace("'", "\\'")


def merge_fold_expr(col: str, a: str, b: str, uid: int = 0) -> str:
    """One merge round over a symbol-array expression: left-to-right,
    non-overlapping replacement of adjacent (a, b) with a||b — the fold's
    accumulator check can never re-merge its own output because the merged
    symbol a||b differs from a (b is non-empty). Lambda variable names are
    suffixed with `uid` so encode chains can nest these folds."""
    qa, qb = _q(a), _q(b)
    acc, s = f"acc{uid}", f"s{uid}"
    return (
        f"aggregate({col}, cast(array() as array<string>), ({acc}, {s}) -> "
        f"if(size({acc}) > 0 and element_at({acc}, -1) = '{qa}' and {s} = '{qb}', "
        f"concat(slice({acc}, 1, size({acc}) - 1), array('{qa}{qb}')), "
        f"concat({acc}, array({s}))))"
    )


def chars_expr(word_col: str, uid: int = 0) -> str:
    """word -> initial symbol array: characters + the '</w>' marker."""
    return (
        f"concat(filter(split({word_col}, ''), c{uid} -> c{uid} <> ''), "
        f"array('{EOW}'))"
    )


def encode_expr(word_col: str, merges, uid: int = 0) -> str:
    """Exact BPE encode of a single-word expression: the character split
    with the learned merges applied in rank order (nested folds, all
    JVM-side — no Python in the hot path). `merges` is the (a, b, count)
    list bpe_train returns."""
    expr = chars_expr(word_col, uid=uid)
    for i, (a, b, _cnt) in enumerate(merges):
        expr = merge_fold_expr(expr, a, b, uid=uid * 100 + i + 1)
    return expr


def bpe_train(docs: DataFrame, n_merges: int = BPE_MERGES) -> tuple[list, DataFrame]:
    """Train `n_merges` BPE merges on the corpus. Returns (merges, words):
    merges = [(left, right, pair_count), ...] in rank order; words = the
    distinct-word DataFrame (word, cnt, syms) where syms is the final
    training segmentation. Deterministic: ties break (count DESC, left,
    right). Raises if the corpus runs out of adjacent pairs before
    n_merges rounds — a silent short vocab would desync every consumer
    that inlines the merge list. Each round's table is a `cache.checkpoint`,
    so the caller holds a cache scope; `words` is returned still held."""
    words = cache.checkpoint(
        docs.select(
            F.explode(
                F.expr("filter(split(text, ' '), w -> w <> '')")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .withColumn("syms", F.expr(chars_expr("word")))
    )
    merges: list = []
    for _r in range(n_merges):
        best = (
            words.where(F.expr("size(syms) > 1"))
            .select(
                F.expr(
                    "explode(zip_with(slice(syms, 1, size(syms) - 1), "
                    "slice(syms, 2, size(syms) - 1), (a, b) -> struct(a, b)))"
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("pcnt"))
            # orderBy + limit(1) plans as TakeOrdered — no full sort of the
            # pair table, and exactly ONE row ever reaches the driver
            .orderBy(F.desc("pcnt"), "a", "b")
            .limit(1)
        ).collect()
        if not best:
            raise ValueError(
                f"corpus exhausted after {len(merges)} merges; "
                f"asked for {n_merges}"
            )
        a, b, pcnt = best[0]["a"], best[0]["b"], int(best[0]["pcnt"])
        merges.append((a, b, pcnt))
        prev, words = words, cache.checkpoint(
            words.withColumn("syms", F.expr(merge_fold_expr("syms", a, b)))
        )
        cache.release(prev)
    return merges, words


def bpe_encode_words(words: DataFrame, merges) -> DataFrame:
    """Attach the exact BPE segmentation (`syms`, `n_tokens`) to any word
    table — including out-of-vocabulary words, which the merge folds
    handle by construction. This is the encode-distinct-words-once
    building block for vocabularies too large to broadcast as one map."""
    return words.withColumn("syms", F.expr(encode_expr("word", merges))).withColumn(
        "n_tokens", F.expr("cast(size(syms) as bigint)")
    )


def bpe_vocab(docs: DataFrame) -> DataFrame:
    """The learned merge table as a DataFrame: (rank, left, right, merged,
    pair_count) in rank order — the artifact a pipeline persists to encode
    future shards with the same vocabulary."""
    merges, _words = bpe_train(docs)
    spark = docs.sparkSession
    return spark.createDataFrame(
        [
            (i + 1, a, b, a + b, cnt)
            for i, (a, b, cnt) in enumerate(merges)
        ],
        "rank int, left string, right string, merged string, pair_count bigint",
    )


def bpe_token_counts(
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    extra_cols: tuple = (),
) -> DataFrame:
    """(doc_id, n_words, n_tokens): per-document subword token counts under
    a BPE vocabulary trained on the same corpus. The per-word token
    lengths fold into ONE broadcast map row (the bloom-probe shape), so
    the corpus side is a row-local projection — zero wide shuffle beyond
    the training side's distinct-word groupBy. Words outside the map (none
    when training corpus == counting corpus) fall back to the exact merge
    folds inside a lazily-evaluated CASE branch."""
    merges, words = bpe_train(docs, n_merges)
    vmap = words.agg(
        F.map_from_entries(
            F.collect_list(F.struct("word", F.expr("cast(size(syms) as bigint)")))
        ).alias("vmap")
    )
    enc_fallback = encode_expr("w0", merges, uid=1)
    return (
        docs.crossJoin(F.broadcast(vmap))
        .withColumn("wlist", F.expr("filter(split(text, ' '), w -> w <> '')"))
        .select(
            "doc_id",
            *extra_cols,
            F.expr("cast(size(wlist) as int)").alias("n_words"),
            F.expr(
                "aggregate(transform(wlist, w0 -> "
                "case when element_at(vmap, w0) is not null "
                "then element_at(vmap, w0) "
                f"else cast(size({enc_fallback}) as bigint) end), "
                "0L, (x0, y0) -> x0 + y0)"
            ).alias("n_tokens"),
        )
    )


def bpe_token_counts_encoded(docs: DataFrame, merges) -> DataFrame:
    """(doc_id, n_words, n_tokens) under a PRE-TRAINED merge list, computed
    by the exact merge-fold encode per word — a pure row-local projection,
    so it runs identically over a batch DataFrame and a streaming one (the
    production shape: train offline on a corpus snapshot, encode every new
    shard/stream with the frozen vocabulary). Unlike bpe_token_counts'
    broadcast-map fast path this needs no trained-corpus join at all and
    handles out-of-vocabulary words exactly; the map path wins when the
    text re-uses a known vocabulary heavily."""
    enc = encode_expr("w0", merges, uid=1)
    return (
        docs.withColumn(
            "wlist", F.expr("filter(split(text, ' '), w -> w <> '')")
        )
        .select(
            "doc_id",
            F.expr("cast(size(wlist) as int)").alias("n_words"),
            F.expr(
                f"aggregate(transform(wlist, w0 -> cast(size({enc}) as bigint)), "
                "0L, (x0, y0) -> x0 + y0)"
            ).alias("n_tokens"),
        )
    )
