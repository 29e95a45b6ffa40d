"""PDF/layout branch: route media spans by media_ref type and run a layout
parser over document-shaped media (north_star: "plus a PDF/layout branch").

The reference has no PDF semantics (it is an HTML parser), so this branch is
contract-free by construction (SURVEY.md §7.1 step 5); the parse kernel is a
REAL pure-Python PDF text extractor (core/pdf.py: object scan, page tree,
FlateDecode, BT..ET / Tj / TJ / hex-string tokenization — built from the
public PDF 1.4 spec), validated by round-trip against the synthesized-PDF
fixture corpus and hand-crafted streams (tests/test_layout.py) and
oracle-checked end-to-end by the `layout_pdf_text` gate query.

Flow:
  extracted spans -> explode media refs -> route on extension
    - pdf/doc-like  -> fetch payload bytes -> parse_layout_payloads kernel
                       (mapInArrow over the binary column): per-ref ordered
                       (page, block_order, block_kind, content) rows
    - image/audio/… -> passthrough rows (decode lives in operators/multimodal)

At 100 TB the binary column rides the same Arrow batches as everything
else — cap spark.sql.execution.arrow.maxBytesPerBatch for multi-MB
documents (same mega-row guidance as the extraction kernel; a record count
does not bound bytes).
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core.pdf import pdf_text_blocks, synth_pdf
from .arrow_rows import map_rows

LAYOUT_TYPES = ("pdf", "docx", "ps")  # extensions routed to the layout parser

LAYOUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("page", IntegerType()),
        StructField("block_order", IntegerType()),
        StructField("block_kind", StringType()),  # 'text' | 'table' | 'figure'
        StructField("content", StringType()),
    ]
)

PDF_PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("payload", BinaryType()),
    ]
)


def media_refs(df_extracted: DataFrame) -> DataFrame:
    """(doc_id, media_ref, media_type): one row per media span; media_type =
    lowercase extension ('' when absent)."""
    return (
        df_extracted.select(
            "doc_id",
            F.explode(
                F.expr("filter(spans, s -> s.kind = 'media' and s.media_ref is not null)")
            ).alias("s"),
        )
        .select("doc_id", F.col("s.media_ref").alias("media_ref"))
        .withColumn(
            "media_type",
            F.lower(F.regexp_extract(F.col("media_ref"), r"\.([A-Za-z0-9]+)$", 1)),
        )
    )


def route_media(df_extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(layout_side, passthrough_side) split on media_type."""
    refs = media_refs(df_extracted)
    is_layout = F.col("media_type").isin(*LAYOUT_TYPES)
    return refs.where(is_layout), refs.where(~is_layout)


def attach_pdf(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, media_ref, payload: binary) with a REAL
    synthesized PDF per document (page 0: the 3-word title block; page 1:
    the body text). The container varies in thirds — plain PDF 1.4,
    FlateDecode 1.4, and PDF 1.5 with object + cross-reference STREAMS
    (the dominant real-corpus shape: catalog/page tree reachable only
    through the /Type /ObjStm) — deterministic, and the extracted blocks
    are container-independent, so the layout extraction keeps its
    closed-form SQL oracle. With real data the payload column comes from
    the lake instead."""

    def rows(doc_id, text):
        text = text or ""
        title = " ".join(text.split(" ")[:3])
        # deterministic id-derived variant (works for any id shape);
        # the container never changes the extracted blocks, so the
        # SQL oracle is independent of it
        v = zlib.crc32(str(doc_id).encode("utf-8")) % 3
        payload = synth_pdf([[title], [text]], compress=v >= 1, objstm=v == 2)
        return [(str(doc_id), f"synth://{doc_id}.pdf", payload)]

    return map_rows(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
        rows,
        PDF_PAYLOAD_SCHEMA,
    )


def parse_layout_payloads(df: DataFrame) -> DataFrame:
    """REAL layout parse over (doc_id, media_ref, payload: binary) rows with
    the pure-Python PDF text extractor (core/pdf.pdf_text_blocks).
    One mapInArrow crossing (map_rows): the bytes move in Arrow batches and
    become Python bytes once per batch; malformed payloads yield zero
    block rows (never fail the stage)."""

    def rows(doc_id, ref, p):
        blocks = pdf_text_blocks(bytes(p) if p is not None else b"")
        return [(str(doc_id), ref) + tuple(b) for b in blocks]

    return map_rows(df.select("doc_id", "media_ref", "payload"), rows, LAYOUT_SCHEMA)
