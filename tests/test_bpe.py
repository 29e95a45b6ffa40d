"""BPE tokenizer (functions/bpe.py): the Spark trainer against a pure-Python
Sennrich-2016 reference loop, the encode-reproduces-training-segmentation
property, out-of-vocabulary encode, and token-count accounting. The
end-to-end train replay is pinned by the text_bpe_vocab / text_bpe_tokens
gate oracles (DuckDB re-runs every round in SQL). Training checkpoints
each round through `cache.checkpoint`, so every test holds a cache
scope."""

from __future__ import annotations

from collections import Counter

from html_parser_spark import cache
from html_parser_spark.functions import bpe as B


def _python_bpe(word_counts: dict, n_merges: int):
    """Reference trainer, straight from the published algorithm: symbol
    sequences with a '</w>' marker, most-frequent adjacent pair merged
    left-to-right non-overlapping, ties (count DESC, left, right)."""
    segs = {w: list(w) + [B.EOW] for w in word_counts}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, cnt in word_counts.items():
            s = segs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += cnt
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        for w in segs:
            s, out, i = segs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out
    return merges, segs


def _python_encode(word: str, merges):
    s = list(word) + [B.EOW]
    for a, b, _cnt in merges:
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(s[i])
                i += 1
        s = out
    return s


CORPUS = [
    (0, "low low low low low"),
    (1, "lower lower newest newest"),
    (2, "newest newest newest newest"),
    (3, "widest widest widest"),
    (4, "low lower newest widest"),
    (5, ""),
]


def test_train_matches_python_reference(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    wc = Counter(w for _i, t in CORPUS for w in t.split() if w)
    ref_merges, ref_segs = _python_bpe(wc, 10)
    with cache.scope(spark):
        merges, words = B.bpe_train(docs, n_merges=10)
        assert merges == ref_merges
        got = {r.word: list(r.syms) for r in words.collect()}
    assert got == ref_segs


def test_encode_reproduces_training_segmentation(spark):
    """The standard BPE property: applying the merge list in rank order to
    a training word reproduces its training segmentation exactly."""
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    with cache.scope(spark):
        merges, words = B.bpe_train(docs, n_merges=10)
        vocab = words.select("word")
        enc = {r.word: list(r.syms) for r in B.bpe_encode_words(vocab, merges).collect()}
        train = {r.word: list(r.syms) for r in words.collect()}
    assert enc == train


def test_encode_out_of_vocabulary(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    with cache.scope(spark):
        merges, _words = B.bpe_train(docs, n_merges=10)
    oov = spark.createDataFrame(
        [("lowest",), ("slow",), ("zzz",), ("newestlow",)], "word string"
    )
    got = {r.word: list(r.syms) for r in B.bpe_encode_words(oov, merges).collect()}
    for w in got:
        assert got[w] == _python_encode(w, merges)


def test_token_counts_accounting(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    with cache.scope(spark):
        merges, words = B.bpe_train(docs, n_merges=10)
        rows = {r.doc_id: r for r in B.bpe_token_counts(docs, n_merges=10).collect()}
        by_words = sum(r.cnt * len(r.syms) for r in words.collect())
    # every doc keeps a row; empty doc counts (0, 0)
    assert set(rows) == {i for i, _t in CORPUS}
    assert (rows[5].n_words, rows[5].n_tokens) == (0, 0)
    # corpus-total tokens == sum over the word table of cnt * len(syms)
    total = sum(r.n_tokens for r in rows.values())
    assert total == by_words
    # per-doc spot check against the Python encoder
    for doc_id, text in CORPUS[:3]:
        exp = sum(len(_python_encode(w, merges)) for w in text.split() if w)
        assert rows[doc_id].n_tokens == exp


def test_train_raises_when_corpus_exhausts(spark):
    docs = spark.createDataFrame([(0, "ab ab")], "doc_id bigint, text string")
    import pytest

    with cache.scope(spark), pytest.raises(ValueError, match="exhausted"):
        # 'ab' has 2 pairs -> fully merged after 2 rounds; round 3 must not
        # silently return a short vocabulary
        B.bpe_train(docs, n_merges=3)


def test_stream_encode_equals_batch(spark, tmp_path):
    """Frozen-vocab encode over a STREAM == the batch paths: the merge-fold
    projection is row-local, so readStream -> encode -> append sink yields
    exactly bpe_token_counts (broadcast-map path) on in-vocab docs, and
    exactly the Python encoder on OOV docs the training corpus never saw."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    with cache.scope(spark):
        merges, _words = B.bpe_train(docs, n_merges=10)

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    rows = CORPUS + [(6, "lowest slow zzz"), (7, "newestlow widest low")]
    input_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    spark.createDataFrame(rows, schema).write.parquet(input_dir)
    stream = spark.readStream.schema(schema).parquet(input_dir)
    q = (
        B.bpe_token_counts_encoded(stream, merges)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r.doc_id: (r.n_words, r.n_tokens) for r in spark.read.parquet(out_dir).collect()}
    exp = {
        i: (
            len([w for w in t.split() if w]),
            sum(len(_python_encode(w, merges)) for w in t.split() if w),
        )
        for i, t in rows
    }
    assert got == exp
    # in-vocab rows also match the broadcast-map batch path exactly
    with cache.scope(spark):
        batch = {
            r.doc_id: (r.n_words, r.n_tokens)
            for r in B.bpe_token_counts(docs, n_merges=10).collect()
        }
    assert all(got[i] == batch[i] for i, _t in CORPUS)
