"""Build the interleaved input table (BASELINE.json input_hint shape) from the
driver's `documents` parquet — deterministically and SQL-mirrorably.

`documents.text` is pure ``[a-z ]`` word soup at every sf (verified), so a
document wrapped in fixed HTML has a closed-form expected extraction that an
ANSI-SQL oracle can reconstruct (see registry/extract.py): the Spark
side runs the REAL tokenizer/tree kernel, the oracle recomputes the answer
from first principles — a genuine end-to-end correctness gate.

Wrap shape per document (doc_id, text, source):
  span 0 (text):  <div><h1>{title}</h1><p>{text}</p></div>   title = first 3 words
  span 1 (media): media://{source}/{doc_id}.jpg
  span 2 (text):  <p>{text}</p><img src="thumb-{doc_id}.png"/>

Expected extraction (kind, text, media_ref, order):
  (text,  title, NULL, 0)
  (text,  text,  NULL, 1)
  (media, NULL,  media://{source}/{doc_id}.jpg, 2)
  (text,  text,  NULL, 3)
  (media, NULL,  thumb-{doc_id}.png, 4)

`interleave_with_errors` additionally routes a deterministic doc_id-keyed
subset through malformed HTML so the gate also checks error/divergent-status
semantics (the reference throws / hangs there; we flag).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.extract import INPUT_SPAN_STRUCT  # noqa: F401  (schema doc)


def _span(kind, text, media_ref, offset):
    return F.struct(
        kind.alias("kind"),
        text.alias("text"),
        media_ref.alias("media_ref"),
        offset.alias("offset"),
    )


def _null_s():
    return F.lit(None).cast("string")


def interleaved_from_documents(docs: DataFrame, *extra: str) -> DataFrame:
    """documents(doc_id, text, source, ...) -> (doc_id: string, spans: array<...>).

    Explode-free: the spans array is built with a single `array(struct…)`
    projection — no shuffle, fully pushdown-friendly (only doc_id/text/source
    are read from parquet).
    """
    did = F.col("doc_id").cast("string")
    title = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ")
    html0 = F.concat(
        F.lit("<div><h1>"), title, F.lit("</h1><p>"), F.col("text"), F.lit("</p></div>")
    )
    media1 = F.concat(F.lit("media://"), F.col("source"), F.lit("/"), did, F.lit(".jpg"))
    html2 = F.concat(
        F.lit("<p>"), F.col("text"), F.lit('</p><img src="thumb-'), did, F.lit('.png"/>')
    )
    return docs.select(
        did.alias("doc_id"),
        F.array(
            _span(F.lit("text"), html0, _null_s(), F.lit(0)),
            _span(F.lit("media"), _null_s(), media1, F.lit(1)),
            _span(F.lit("text"), html2, _null_s(), F.lit(2)),
        ).alias("spans"),
        *extra,
    )


# doc_id % 10 routing for the error-semantics gate. The malformed payloads are
# fixture-verified reference behaviors (sources/fixtures.py):
#   0 -> '<p>a > b</p>'  reference hangs            -> status divergent
#   1 -> '<div>x</p>'    reference throws 标签不匹配   -> error tag_mismatch
#   2 -> '<div/>'        reference throws 单标签不合法 -> error illegal_self_close
#   else: well-formed wrap (status ok, 5 spans)
BAD_DIVERGENT = "<p>a > b</p>"
BAD_MISMATCH = "<div>x</p>"
BAD_SELFCLOSE = "<div/>"


def interleave_with_errors(docs: DataFrame) -> DataFrame:
    base = interleaved_from_documents(
        docs.withColumn("m", F.pmod(F.col("doc_id"), F.lit(10))), "m"
    )
    # single projection, no join/shuffle: swap in the malformed single-span
    # array for routed rows
    mod = F.col("m")
    bad = (
        F.when(mod == 0, F.lit(BAD_DIVERGENT))
        .when(mod == 1, F.lit(BAD_MISMATCH))
        .when(mod == 2, F.lit(BAD_SELFCLOSE))
    )
    return base.select(
        "doc_id",
        F.when(mod <= 2, F.array(_span(F.lit("text"), bad, _null_s(), F.lit(0))))
        .otherwise(F.col("spans"))
        .alias("spans"),
    )
