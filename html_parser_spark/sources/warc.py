"""WARC (Web ARChive, ISO 28500) source: the container format web-scale
text corpora actually arrive in (Common Crawl ships ~100 TB/crawl of
.warc.gz). The reference engine has no I/O at all (htmlParser.ts:10 takes a
string), so this is pipeline capability: get documents OUT of crawl
containers and INTO the extraction pipeline without a driver-side loop.

Two halves, mirroring the PDF branch (core/pdf.py synth/read):

  synth_warc_files  build deterministic multi-record WARC files FROM a
                    documents table in Spark expressions (one groupBy;
                    gzip, when asked, is one mapInArrow crossing) — the
                    test/bench fixture, no external data.
  warc_records      split WARC bytes into records distributively via ONE
                    mapInArrow crossing: a pure-Python scanner per file
                    blob — header parse, Content-Length payload slicing,
                    per-record gzip members (the .warc.gz layout) — that
                    degrades per record (status column), never raises.

Scale shape: at 100 TB the file blobs come from
``spark.read.format("binaryFile").load("s3://.../*.warc.gz")`` — one row
per file, the SAME (path, content) shape synth_warc_files emits, so
warc_records applies unchanged. Parallelism is per-file (Common Crawl
files are ~1 GB: 100k files = 100k tasks); records inside a file are
scanned sequentially exactly once, payloads are never copied twice, and
untouched trailing bytes after a truncation are skipped, not re-scanned.
No shuffle anywhere: scan -> mapInArrow -> downstream.
"""

from __future__ import annotations

import gzip
import hashlib
import zlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.arrow_rows import map_rows

URL_PREFIX = "https://corpus.example"

FILE_SCHEMA = StructType(
    [StructField("file_id", LongType()), StructField("content", BinaryType())]
)

RECORD_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_type", StringType()),
        StructField("content_length", IntegerType()),
        StructField("payload_len", IntegerType()),
        StructField("payload_md5", StringType()),
        StructField("status", StringType()),
    ]
)

# one WARC record per document, as a SQL expression (mirrored by the
# source_warc_roundtrip oracle): version line, four headers, blank line,
# payload, record terminator
_REC_EXPR = (
    "concat('WARC/1.0\\r\\n', "
    "'WARC-Type: response\\r\\n', "
    f"'WARC-Target-URI: {URL_PREFIX}/', source, '/', cast(doc_id as string), "
    "'\\r\\n', "
    "'WARC-Record-ID: <urn:md5:', md5(text), '>\\r\\n', "
    "'Content-Type: text/plain\\r\\n', "
    "'Content-Length: ', cast(length(text) as string), '\\r\\n\\r\\n', "
    "text, '\\r\\n\\r\\n')"
)


def synth_warc_files(
    docs: DataFrame, docs_per_file: int = 100, compress: bool = False
) -> DataFrame:
    """(file_id, content:binary): documents packed into multi-record WARC
    files, ``docs_per_file`` records per file in doc_id order. One
    map-side-combinable groupBy; the per-record string is a narrow
    projection. ``compress=True`` gzips each file as ONE member (the
    .warc.gz spec allows member-per-record or whole-file members; the
    reader handles both) in one mapInArrow crossing (map_rows)."""
    recs = docs.select(
        (F.col("doc_id") / docs_per_file).cast("bigint").alias("file_id"),
        "doc_id",
        F.expr(_REC_EXPR).alias("rec"),
    )
    files = (
        recs.groupBy("file_id")
        .agg(F.expr("array_sort(collect_list(struct(doc_id, rec)))").alias("rs"))
        .select(
            "file_id",
            F.encode(
                F.expr("array_join(transform(rs, x -> x.rec), '')"), "UTF-8"
            ).alias("content"),
        )
    )
    if compress:
        files = map_rows(
            files,
            lambda file_id, b: [(file_id, gzip.compress(b, 6, mtime=0))],
            FILE_SCHEMA,
        )
    return files


def _gunzip_members(data: bytes) -> bytes:
    """Decompress a concatenation of gzip members (the .warc.gz layout:
    often one member PER RECORD). Bad trailing garbage stops cleanly."""
    out = []
    while data[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out.append(d.decompress(data))
        except zlib.error:
            break
        data = d.unused_data
    return b"".join(out)


def _scan_records(blob: bytes) -> Iterator[tuple]:
    """Yield (url, warc_type, content_length, payload_len, payload_md5,
    status) per record. Degrades per record: a malformed header or short
    payload yields a row with a non-'ok' status and scanning continues at
    the next version line — one bad record never poisons a 1 GB file."""
    if blob[:2] == b"\x1f\x8b":
        blob = _gunzip_members(blob)
    pos = 0
    n = len(blob)
    while True:
        start = blob.find(b"WARC/1.0\r\n", pos)
        if start < 0:
            break
        hdr_end = blob.find(b"\r\n\r\n", start)
        if hdr_end < 0:
            yield (None, None, None, None, None, "truncated_header")
            break
        headers = {}
        for line in blob[start + 10 : hdr_end].split(b"\r\n"):
            k, sep, v = line.partition(b": ")
            if sep:
                headers[k.decode("latin-1").lower()] = v.decode("latin-1")
        url = headers.get("warc-target-uri")
        wtype = headers.get("warc-type")
        clen_s = headers.get("content-length")
        if clen_s is None or not clen_s.isdigit():
            yield (url, wtype, None, None, None, "bad_header")
            pos = hdr_end + 4
            continue
        clen = int(clen_s)
        body_start = hdr_end + 4
        payload = blob[body_start : body_start + clen]
        status = "ok" if len(payload) == clen else "truncated_payload"
        if status == "ok" and blob[body_start + clen : body_start + clen + 4] != b"\r\n\r\n":
            status = "bad_terminator"
        yield (
            url,
            wtype,
            clen,
            len(payload),
            hashlib.md5(payload).hexdigest(),
            status,
        )
        pos = min(body_start + clen + 4, n)


def warc_records(files: DataFrame) -> DataFrame:
    """Split WARC file blobs into per-record rows (RECORD_SCHEMA) with ONE
    mapInArrow crossing (map_rows). Input needs only ``content``
    (binary); extra columns are dropped (project path/file_id back by
    joining downstream if per-file lineage is needed). A null blob yields
    no rows."""
    return map_rows(
        files.select("content"),
        lambda blob: _scan_records(bytes(blob)) if blob is not None else (),
        RECORD_SCHEMA,
    )
