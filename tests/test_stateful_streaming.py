"""Stateful streaming dedup (applyInPandasWithState): first-seen-only across
micro-batches AND across restarts (state persisted in the checkpoint)."""

from __future__ import annotations

import time

from pyspark.sql.types import StringType, StructField, StructType

from html_parser_spark.streaming.stateful import dedup_stream

DOC_SCHEMA = StructType(
    [StructField("doc_id", StringType()), StructField("text", StringType())]
)


def _run_once(spark, input_dir, out_dir, ckpt):
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_first_seen_only_across_batches_and_restarts(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    batch1 = [("d1", "alpha"), ("d2", "beta"), ("d3", "alpha")]  # d3 dups d1
    spark.createDataFrame(batch1, DOC_SCHEMA).write.mode("append").parquet(input_dir)
    _run_once(spark, input_dir, out_dir, ckpt)

    got1 = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert set(got1) == {"d1", "d2"}  # one survivor per key
    assert got1["d1"]["n_dupes_in_batch"] == 2

    # second micro-batch (fresh files): old keys suppressed by state
    time.sleep(1.1)  # distinct mtime so the file source sees new files
    batch2 = [("d4", "alpha"), ("d5", "gamma")]
    spark.createDataFrame(batch2, DOC_SCHEMA).write.mode("append").parquet(input_dir)
    _run_once(spark, input_dir, out_dir, ckpt)

    got2 = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got2 == {"d1", "d2", "d5"}  # d4 (dup of alpha) suppressed


def test_near_dup_streaming_via_simhash_key(spark, tmp_path):
    """dedup_stream with a SimHash key_expr (functions/dedup.simhash_expr):
    docs with the same distinct-word SET — e.g. reordered or word-repeated
    variants — collapse onto one survivor, which exact-content md5 keying
    would keep separately."""
    from html_parser_spark.functions.dedup import simhash_expr

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    batch = [
        ("d1", "alpha beta gamma delta"),
        ("d2", "delta gamma beta alpha"),       # reordered -> same word set
        ("d3", "alpha alpha beta gamma delta"),  # repeated -> same distinct set
        ("d4", "completely different words here"),
    ]
    spark.createDataFrame(batch, DOC_SCHEMA).write.mode("append").parquet(input_dir)
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)
    q = (
        dedup_stream(stream, key_expr=f"cast(({simhash_expr('text')}) as string)")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["doc_id"]: r["n_dupes_in_batch"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {"d1": 3, "d4": 1}  # d2/d3 suppressed as near-dups of d1


def test_numeric_ids_survivor_is_numeric_min(spark, tmp_path):
    """The canonical survivor for numeric doc_ids is the NUMERIC min (9, not
    the lexicographic '10'), matching functions/dedup.exact_groups — doc_id
    keeps its input type through the groupBy and is stringified only in the
    output row."""
    from pyspark.sql.types import LongType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(10, "alpha"), (9, "alpha"), (100, "alpha"), (20, "beta")], schema
    ).write.mode("append").parquet(input_dir)

    stream = spark.readStream.schema(schema).parquet(input_dir)
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {r["content_key"]: r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert sorted(got.values()) == ["20", "9"]  # 9 < 10 < 100 numerically


def test_banded_near_dup_across_batches(spark, tmp_path):
    """dedup_stream_banded: a near copy (last word dropped, the planted-dup
    recipe) arriving in a LATER batch is flagged because one of its minhash
    bands was already claimed — the multi-probe case the simhash/md5 keys
    cannot catch (the word SETS differ)."""
    from html_parser_spark.streaming.stateful import (
        dedup_stream_banded,
        resolve_band_verdicts,
    )

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"

    def run_once():
        stream = spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)
        q = (
            dedup_stream_banded(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    batch1 = [("d1", t), ("d2", "totally different words in this one here")]
    spark.createDataFrame(batch1, DOC_SCHEMA).write.mode("append").parquet(input_dir)
    run_once()

    time.sleep(1.1)  # distinct mtime so the file source sees new files
    near = t.rsplit(" ", 1)[0]  # last word dropped
    batch2 = [("d3", near), ("d4", "yet another unrelated document text stream")]
    spark.createDataFrame(batch2, DOC_SCHEMA).write.mode("append").parquet(input_dir)
    run_once()

    verdicts = spark.read.parquet(out_dir)
    got = {r["doc_id"]: r for r in resolve_band_verdicts(verdicts).collect()}
    assert set(got) == {"d1", "d2", "d3", "d4"}
    assert all(got[d]["n_bands"] == 4 for d in got)
    assert not got["d1"]["is_dup"] and not got["d2"]["is_dup"]
    assert not got["d4"]["is_dup"]
    assert got["d3"]["is_dup"] and got["d3"]["dup_of"] == "d1"

    # word-set-identical docs (what the simhash key catches) also collide
    # here, within one batch: the min doc_id claims every band
    time.sleep(1.1)
    batch3 = [("d5", "omega psi chi phi upsilon tau"),
              ("d6", "omega psi chi phi upsilon tau")]
    spark.createDataFrame(batch3, DOC_SCHEMA).write.mode("append").parquet(input_dir)
    run_once()
    got3 = {r["doc_id"]: r for r in
            resolve_band_verdicts(spark.read.parquet(out_dir)).collect()}
    assert not got3["d5"]["is_dup"]
    assert got3["d6"]["is_dup"] and got3["d6"]["dup_of"] == "d5"


def test_canonical_url_dedup_streaming(spark, tmp_path):
    """Streaming canonical-URL dedup: functions/url.canonicalize_urls is a
    stateless projection, so it composes with dedup_stream directly —
    raw-URL variants of the same page (case, www., default port, utm,
    trailing slash, fragment) collapse onto the first-seen doc across
    micro-batches, matching the batch canonical_dedup representative."""
    from pyspark.sql.types import StringType, StructField, StructType

    from html_parser_spark.functions.url import canonicalize_urls

    schema = StructType(
        [StructField("doc_id", StringType()), StructField("url", StringType())]
    )
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    batch1 = [
        ("d1", "http://www.A.com/p?utm_source=t&k=1"),
        ("d2", "https://b.org/x"),
        ("d3", "HTTP://a.COM:80/p/?k=1#top"),  # same page as d1
    ]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(input_dir)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(input_dir)
        q = (
            dedup_stream(canonicalize_urls(stream), key_expr="url_canon")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()
    got1 = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert set(got1) == {"d1", "d2"}
    assert got1["d1"]["content_key"] == "http://a.com/p?k=1"
    assert got1["d1"]["n_dupes_in_batch"] == 2

    import time as _t

    _t.sleep(1.1)
    batch2 = [
        ("d4", "http://a.com:80/p?k=1"),   # still the d1 page -> suppressed
        ("d5", "http://a.com/p?k=2"),      # different query value -> new
    ]
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(input_dir)
    run_once()
    got2 = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got2 == {"d1", "d2", "d5"}


def test_band_rows_build_the_shingle_array_once(spark):
    """The banded keys project each doc's shingle array once (one md5
    trigram pass in the executed plan, not one per min-hash), and the keys
    are string-identical to the band keys over the inline shingle
    expression."""
    from pyspark.sql import functions as F

    from html_parser_spark.functions.dedup import band_key_exprs, shingle_array_expr
    from html_parser_spark.streaming.stateful import band_rows

    docs = [
        ("d1", "alpha beta gamma delta epsilon zeta"),
        ("d2", "too short"),
        ("d3", "one two three four five"),
    ]
    df = spark.createDataFrame(docs, DOC_SCHEMA)
    keyed = band_rows(df)
    plan = keyed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("conv(substr(md5") == 1, plan

    inline = band_key_exprs(shingle_array_expr())
    want = {
        (r["doc_id"], band, r[f"k{band}"])
        for r in df.where(F.expr("size(split(text, ' ')) >= 3"))
        .select("doc_id", *[F.expr(e).alias(f"k{b}") for b, e in enumerate(inline)])
        .collect()
        for band in range(len(inline))
    }
    got = {(r["doc_id"], r["band"], r["content_key"]) for r in keyed.collect()}
    assert got == want and len(got) == 2 * len(inline)
