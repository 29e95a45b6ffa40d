"""Mega-document skew (SURVEY §5.3 item 4): a handful of multi-hundred-KB
docs among thousands of small ones must (a) extract correctly and (b) spread
uniformly under salted repartitioning — never concentrate in one task."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from registry.plans import explain_str
from html_parser_spark.core import oracle
from html_parser_spark.operators.extract import INPUT_SCHEMA, extract_spans
from html_parser_spark.sources.fixtures import synth_docs
from html_parser_spark.sources.interleave import interleaved_from_documents
from tests.test_gate_oracles import SF_DIR


@pytest.fixture(scope="module")
def skewed(spark):
    docs = list(synth_docs(2000, seed=99, mega_doc_rate=0.0))
    mega = list(synth_docs(3, seed=7, mega_doc_rate=1.0, mega_doc_words=60_000))
    docs += [(f"mega-{d}", sp) for d, sp in mega]
    rows = [
        (d, [dict(kind=k, text=t, media_ref=m, offset=o) for k, t, m, o in sp])
        for d, sp in docs
    ]
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    return docs, df


def test_mega_docs_extract_correctly(skewed):
    docs, df = skewed
    out = extract_spans(df, salt_partitions=16)
    got = {r["doc_id"]: r for r in out.where(F.col("doc_id").startswith("mega-")).collect()}
    assert len(got) == 3
    by_id = dict(docs)
    for doc_id, row in got.items():
        triples = [(k, t, m) for (k, t, m, _o) in by_id[doc_id]]
        want_spans, want_status, _ = oracle.process_document(triples)
        assert row["status"] == want_status == "ok"
        got_spans = [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in row["spans"]
        ]
        assert got_spans == want_spans
        assert row["n_spans"] > 1000  # genuinely mega


def test_salting_spreads_docs_uniformly(skewed):
    _, df = skewed
    # skew the INPUT layout: everything in one partition, then salt
    out = extract_spans(df.coalesce(1), salt_partitions=16)
    dist = (
        out.withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .count()
        .collect()
    )
    counts = [r["count"] for r in dist]
    assert len(counts) >= 12  # salting actually fanned out of the single slab
    assert max(counts) < 2.5 * (sum(counts) / len(counts))


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata unavailable"
)
def test_salted_plan_shuffles_once(spark):
    """The salt is the extract path's one opt-in shuffle (the unsalted
    extract_flagship plan pins zero Exchanges)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = explain_str(
        extract_spans(interleaved_from_documents(docs), salt_partitions=64)
    )
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1 and "xxhash64" in plan, (
        "exactly one exchange: the salt repartition"
    )


def test_bytes_salting_isolates_mega_doc(spark):
    """salt_by='bytes' (AQE rebalance) must give a mega-doc a partition of
    its own: with one ~10 MB doc among 10k light docs, the hottest task
    carries (near-)zero co-resident light bytes, vs a full hash-bucket's
    worth (~1/P of the light corpus) under plain hash salting. High-entropy
    text defeats shuffle compression so byte stats reflect logical sizes."""
    from pyspark.sql import functions as F

    light = spark.range(4000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.expr(
                    "array_join(transform(sequence(0,31), i -> md5(concat(id,'-',i))), ' ')"
                ).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    mega = spark.range(1).select(
        F.lit("mega").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.expr(
                    "array_join(transform(sequence(0,303030), i -> md5(concat('m',i))), ' ')"
                ).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    df = light.unionAll(mega)

    def mega_partition_load(out):
        rows = (
            out.select(
                "doc_id", "n_text_chars", F.spark_partition_id().alias("p")
            ).collect()
        )
        mega_p = next(r["p"] for r in rows if r["doc_id"] == "mega")
        co_resident = [
            r for r in rows if r["p"] == mega_p and r["doc_id"] != "mega"
        ]
        return sum(r["n_text_chars"] for r in co_resident), len(co_resident)

    old = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    try:
        hash_bytes, hash_docs = mega_partition_load(
            extract_spans(df, salt_partitions=16)
        )
        reb_bytes, reb_docs = mega_partition_load(extract_spans(df, salt_by="bytes"))
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", old)
    # hash salting drags ~1/16 of the light corpus into the mega task
    assert hash_docs > 100
    # size-weighted salting: hottest task is (nearly) the atomic floor
    assert reb_docs < 20
    assert reb_bytes < hash_bytes / 10


def test_many_boilerplate_blocks_linear(skewed):
    """A mega-doc with tens of thousands of non-content blocks must pass the
    heuristics' rescue/media passes in O(n) — the prefix/suffix flags replace
    the per-block full-prefix rescan that went quadratic here (20k blocks =
    2e8 scan steps before the fix; linear now)."""
    import time

    from html_parser_spark.kernels.heuristics import extract_main_spans

    n_blocks = 20_000
    html = (
        "<div><p>lead paragraph with plenty of words here</p>"
        + "<div>a b</div>" * n_blocks  # short (<3 words) low-link blocks
        + "<p>closing paragraph with plenty of words here</p></div>"
    )
    t0 = time.monotonic()
    spans, status, err = extract_main_spans(html)
    wall = time.monotonic() - t0
    assert status == "ok" and err is None
    texts = [t for _k, t, _m in spans]
    # both paragraphs kept; the one short block whose NEAREST following
    # non-empty block is the closing content paragraph is rescued; the other
    # 19,999 short blocks (followed by short non-content blocks) are dropped
    assert texts == [
        "lead paragraph with plenty of words here",
        "a b",
        "closing paragraph with plenty of words here",
    ]
    assert wall < 10.0, f"heuristics pass went superlinear: {wall:.1f}s"


def test_arrow_batch_cap_bounds_kernel_memory(spark, skewed):
    """maxRecordsPerBatch keeps mega-doc batches small: with a cap of 8, no
    Arrow batch hands the kernel more than 8 docs at once."""
    _, df = skewed
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        from pyspark.sql.types import IntegerType, StructField, StructType

        def probe(batches):
            import pandas as pd

            for pdf in batches:
                yield pd.DataFrame({"batch_rows": pd.array([len(pdf)], dtype="int32")})

        sizes = (
            df.mapInPandas(probe, StructType([StructField("batch_rows", IntegerType())]))
            .agg(F.max("batch_rows"))
            .collect()[0][0]
        )
        assert sizes <= 8
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
