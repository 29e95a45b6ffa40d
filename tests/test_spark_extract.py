"""End-to-end Spark extraction: the mapInArrow pipeline must reproduce the
oracle span-for-span over the interleaved input table (the per-row invariant:
span-sequence equality on (kind, text, media_ref, order))."""

from __future__ import annotations

import zlib

import pytest

from html_parser_spark.core import oracle
from html_parser_spark.operators.extract import (
    INPUT_SCHEMA,
    exploded_spans,
    extract_spans,
    partition_metrics,
)
from html_parser_spark.sources.fixtures import FIXTURES, synth_docs


def _to_rows(docs):
    return [
        (doc_id, [{"kind": k, "text": t, "media_ref": m, "offset": off} for k, t, m, off in spans])
        for doc_id, spans in docs
    ]


@pytest.fixture(scope="module")
def extracted(spark):
    docs = list(synth_docs(300, seed=11, mega_doc_rate=0.01))
    # plus one doc per HTML fixture (errors and divergents included)
    docs += [
        (f"fx-{fid}", [("text", html, None, 0)])
        for fid, _cat, html, _status in FIXTURES
    ]
    df = spark.createDataFrame(_to_rows(docs), schema=INPUT_SCHEMA)
    out = extract_spans(df, salt_partitions=8).cache()
    return docs, out


def test_spark_matches_oracle_per_row(extracted):
    docs, out = extracted
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == len(docs)
    for doc_id, in_spans in docs:
        triples = [(k, t, m) for (k, t, m, _off) in in_spans]
        want_spans, want_status, want_error = oracle.process_document(triples)
        row = got[doc_id]
        assert row["status"] == want_status, doc_id
        assert row["error"] == want_error, doc_id
        got_spans = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in row["spans"]]
        assert got_spans == want_spans, doc_id


def test_spark_output_schema_stable(extracted):
    _, out = extracted
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "spans", "status", "error", "n_spans", "n_text_chars", "partition_id",
    ]


def test_exploded_spans_order(extracted):
    _, out = extracted
    ex = exploded_spans(out)
    rows = ex.where(ex.doc_id == "fx-siblings-1").orderBy("span_order").collect()
    assert [(r["kind"], r["text"], r["media_ref"]) for r in rows] == [
        ("text", "a", None),
        ("media", None, "x.png"),
        ("text", "tail", None),
    ]


def test_partition_metrics_totals(extracted):
    docs, out = extracted
    m = partition_metrics(out)
    agg = m.groupBy().sum("doc_count", "error_count", "divergent_count").collect()[0]
    assert agg[0] == len(docs)
    # fixture corpus includes known error/divergent docs
    assert agg[1] > 0 and agg[2] > 0


def _oracle_row(doc_id, in_spans, main):
    """The extract_spans row core/oracle predicts for one input row: spans,
    status and error from oracle.process_document (main mode: the spans of
    an ok document are each text span's extract_main_spans, media passing
    through), n_text_chars = the strict spans' text length, partition_id =
    crc32(doc_id) % 1024 with a null id in bucket 0."""
    from html_parser_spark.kernels.heuristics import extract_main_spans

    in_spans = in_spans or []
    triples = [(s["kind"], s["text"], s["media_ref"]) for s in in_spans]
    spans, status, error = oracle.process_document(triples)
    n_chars = sum(len(t) for _k, t, _m, _o in spans if t is not None)
    if main and status == "ok":
        main_spans = []
        for k, t, m in triples:
            main_spans += [(k, t, m)] if k == "media" else extract_main_spans(t or "")[0]
        spans = [(k, t, m, i) for i, (k, t, m) in enumerate(main_spans)]
    bucket = 0 if doc_id is None else zlib.crc32(doc_id.encode("utf-8")) % 1024
    return (doc_id, status, error, len(spans), n_chars, bucket, tuple(spans))


def test_arrow_and_pandas_crossings_are_twins(spark):
    """extract_spans must equal the core/oracle prediction row for row —
    including on dirty upstream rows (null doc_id / null spans / empty
    spans / null span text) and in heuristics mode, salted and unsalted."""
    from html_parser_spark.kernels.extract import ExtractOptions

    docs = _to_rows(synth_docs(150, seed=23, mega_doc_rate=0.02))
    docs += [
        (None, [{"kind": "text", "text": "<p>x</p>", "media_ref": None, "offset": 0}]),
        ("nullspans", None),
        ("emptyspans", []),
        ("nulltext", [{"kind": "text", "text": None, "media_ref": None, "offset": 0}]),
        ("nullmedia", [{"kind": "media", "text": None, "media_ref": None, "offset": 0}]),
    ]
    # plus the HTML fixtures, so error and divergent rows are compared too
    docs += _to_rows(
        (f"fx-{fid}", [("text", html, None, 0)]) for fid, _cat, html, _status in FIXTURES
    )
    df = spark.createDataFrame(docs, schema=INPUT_SCHEMA)

    def key(r):
        return (
            r["doc_id"], r["status"], r["error"], r["n_spans"],
            r["n_text_chars"], r["partition_id"],
            tuple((s["kind"], s["text"], s["media_ref"], s["order"]) for s in (r["spans"] or [])),
        )

    for opts in (None, ExtractOptions(mode="main")):
        main = opts is not None
        want = sorted((_oracle_row(d, sp, main) for d, sp in docs), key=str)
        assert {w[1] for w in want} == {"ok", "error", "divergent"}
        for salt in (None, 8):
            got = sorted((key(r) for r in extract_spans(df, options=opts, salt_partitions=salt).collect()), key=str)
            assert got == want


def test_partition_id_stable_across_runs(spark, extracted):
    docs, out = extracted
    first = {r["doc_id"]: r["partition_id"] for r in out.select("doc_id", "partition_id").collect()}
    df2 = spark.createDataFrame(_to_rows(docs), schema=INPUT_SCHEMA)
    out2 = extract_spans(df2)  # no salting this time: bucket must not depend on layout
    second = {r["doc_id"]: r["partition_id"] for r in out2.select("doc_id", "partition_id").collect()}
    assert first == second


@pytest.mark.parametrize("mode", ["Main", "STRICT", "mian", ""])
def test_unknown_mode_is_rejected_before_planning(spark, mode):
    """A typo in options.mode must not silently run strict extraction."""
    from html_parser_spark.kernels.extract import ExtractOptions

    df = spark.createDataFrame([], schema=INPUT_SCHEMA)
    with pytest.raises(ValueError, match="options.mode"):
        extract_spans(df, options=ExtractOptions(mode=mode))
