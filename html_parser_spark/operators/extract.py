"""Spark-side extraction operator: salted repartition + mapInArrow kernel.

Input table (BASELINE.json input_hint):
    doc_id: string,
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

Output table:
    doc_id, spans: array<struct<kind, text, media_ref, order:int>>,
    status ('ok'|'error'|'divergent'), error, n_spans, n_text_chars,
    partition_id (stable hash bucket for lineage/metrics, NOT the Spark task id)

Scale notes (100 TB / 1000 executors):
- Exactly ONE JVM->Python Arrow crossing on the hot path: tokenize + tree
  build + extraction are fused in a single mapInArrow stage (SURVEY.md §7.3):
  the worker calls the mode's row function per document, picked once
  (strict: kernels/extract.process_document_flat; main:
  kernels/heuristics.process_document_main, strict on a failing document);
  the crossing moves flat Arrow child arrays, never per-span Python dicts
  (this is the package's only hand-built Arrow rebuild: its list<struct>
  input is decomposed without per-span objects, which measured faster than
  operators/arrow_rows.map_rows; every other kernel goes through map_rows).
- Skew: mega-documents are row-atomic, so the defense is (a) salted
  repartitioning — salt_by='hash' spreads docs uniformly on the raw
  xxhash64(doc_id); salt_by='bytes' is SIZE-WEIGHTED: an AQE REBALANCE on
  doc_id, which splits/coalesces the shuffle output by measured partition
  BYTES (optimizeSkewsInRebalancePartitions), so a mega-doc gets a
  partition to itself instead of dragging its hash-bucket's light docs
  into the hottest task (measured: 10 MB doc among 10k -> co-resident
  light bytes on the hottest task drop from ~670 KB to ~0; BASELINE.md) —
  and (b) byte-bounded Arrow batches (set
  spark.sql.execution.arrow.maxBytesPerBatch for mega-doc corpora; Spark
  4.1 applies it to Python UDF input, and a record count does not bound
  bytes; session.py says why it is not set globally).
  Salting is a full shuffle of the input bytes — leave salt_partitions=None
  when the upstream layout is already uniform (e.g. sized parquet row
  groups + AQE); pass an int (or salt_by='bytes') when the source is
  skewed. In bytes mode the partition count follows
  spark.sql.adaptive.advisoryPartitionSizeInBytes (size it to the per-task
  byte budget), not salt_partitions; sizes are COMPRESSED shuffle bytes,
  so low-entropy payloads pack denser than their logical size.
- partition_id = crc32(doc_id) % N_BUCKETS (1024; a null doc_id lands in
  bucket 0) is derived from doc_id, so re-runs produce identical bucket
  assignment -> idempotent per-partition lineage commits (resume support;
  see sources/checkpoint.py).
"""

from __future__ import annotations

import zlib
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels.extract import ExtractOptions
from ..worker import on_worker

N_BUCKETS = 1024  # partition_id = crc32(doc_id) % N_BUCKETS

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("order", IntegerType()),
    ]
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_STRUCT)),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("n_spans", IntegerType()),
        StructField("n_text_chars", LongType()),
        StructField("partition_id", IntegerType()),
    ]
)

INPUT_SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

INPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(INPUT_SPAN_STRUCT)),
    ]
)


def _arrow_kernel_factory(options: ExtractOptions):
    if options.mode == "main":
        from ..kernels.heuristics import process_document_main as doc_fn
    else:
        from ..kernels.extract import process_document_flat as doc_fn

    def kernel(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(EXTRACT_SCHEMA)
        for batch in batches:
            yield _process_arrow_batch(batch, doc_fn, schema)

    return kernel


def _process_arrow_batch(batch, doc_fn, schema):
    """One Arrow batch through the mode's row function doc_fn with no
    per-span Python dicts on either side of the crossing: the input
    list<struct> column is decomposed into flat child arrays (one C pass
    per column) and cut per document by its offsets; doc_fn appends each
    document's spans to flat output lists, from which the output
    list<struct> is rebuilt (measured against the pandas path in
    BASELINE.md). Pinned to core/oracle by tests/test_spark_extract.py."""
    import pyarrow as pa

    doc_arr = batch.column("doc_id")
    if doc_arr.type != pa.string():
        doc_arr = doc_arr.cast(pa.string())
    spans_arr = batch.column("spans")
    n = batch.num_rows
    doc_ids = doc_arr.to_pylist()

    if n:
        offs = spans_arr.offsets.to_pylist()  # absolute into the child arrays
        vals = spans_arr.values
        fidx = {f.name: i for i, f in enumerate(spans_arr.type.value_type)}
        kinds_f = vals.field(fidx["kind"]).to_pylist()
        texts_f = vals.field(fidx["text"]).to_pylist()
        mrefs_f = vals.field(fidx["media_ref"]).to_pylist()
        nulls = spans_arr.is_null().to_pylist() if spans_arr.null_count else None
    else:
        offs, kinds_f, texts_f, mrefs_f, nulls = [0], [], [], [], None

    out_kinds, out_texts, out_mrefs, out_orders = [], [], [], []
    out_offsets = [0]
    statuses, errors, n_spans_l, n_chars_l = [], [], [], []
    for i in range(n):
        if nulls is not None and nulls[i]:
            a = b = 0  # null spans column == no input spans (dirty upstream)
        else:
            a, b = offs[i], offs[i + 1]
        n_sp, status, error, n_chars = doc_fn(
            kinds_f[a:b], texts_f[a:b], mrefs_f[a:b], out_kinds, out_texts, out_mrefs
        )
        out_orders.extend(range(n_sp))
        out_offsets.append(out_offsets[-1] + n_sp)
        statuses.append(status)
        errors.append(error)
        n_spans_l.append(n_sp)
        n_chars_l.append(n_chars)

    # crc32, not the per-process seeded hash(); a null doc_id -> bucket 0
    part_ids = [0 if d is None else zlib.crc32(d.encode()) % N_BUCKETS for d in doc_ids]
    spans_t = schema.field("spans").type
    span_struct = pa.StructArray.from_arrays(
        [
            pa.array(out_kinds, pa.string()),
            pa.array(out_texts, pa.string()),
            pa.array(out_mrefs, pa.string()),
            pa.array(out_orders, pa.int32()),
        ],
        fields=list(spans_t.value_type),
    )
    spans_out = pa.ListArray.from_arrays(
        pa.array(out_offsets, pa.int32()), span_struct, type=spans_t
    )
    return pa.RecordBatch.from_arrays(
        [
            doc_arr,
            spans_out,
            pa.array(statuses, pa.string()),
            pa.array(errors, pa.string()),
            pa.array(n_spans_l, pa.int32()),
            pa.array(n_chars_l, pa.int64()),
            pa.array(part_ids, pa.int32()),
        ],
        schema=schema,
    )


def extract_spans(
    df: DataFrame,
    options: Optional[ExtractOptions] = None,
    salt_partitions: Optional[int] = None,
    salt_by: str = "hash",
) -> DataFrame:
    """The flagship operator: interleaved docs -> ordered extracted spans.

    salt_partitions: if set, hash-repartition on xxhash64(doc_id) first
    (north_rule skew defense). salt_by='bytes' selects the size-weighted
    variant instead (AQE REBALANCE on doc_id: partitions sized by measured
    shuffle bytes, mega-docs isolated; partition count follows
    spark.sql.adaptive.advisoryPartitionSizeInBytes rather than
    salt_partitions).
    """
    options = options or ExtractOptions()
    missing = {"doc_id", "spans"} - set(df.columns)
    if missing:
        raise ValueError(
            f"extract_spans input is missing column(s) {sorted(missing)}; "
            "expected (doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)"
        )
    if options.mode not in ("strict", "main"):
        raise ValueError(f"options.mode must be 'strict' or 'main', got {options.mode!r}")
    if salt_by not in ("hash", "bytes"):
        raise ValueError(f"salt_by must be 'hash' or 'bytes', got {salt_by!r}")
    if salt_by == "bytes":
        # size-weighted salting: hash-distribute on doc_id, then let AQE
        # re-cut the shuffle output by BYTES (skew splits + small-partition
        # coalesce). A mega-doc is row-atomic, so the best any partitioner
        # can do is give it a partition of its own — this does exactly that
        # without a second sizing scan (it reuses the shuffle's own map
        # output statistics).
        df = df.hint("rebalance", "doc_id")
    elif salt_partitions:
        # full-entropy salt: repartition hashes the expression again, so
        # wrapping in pmod(.., P) would collapse to P distinct values and
        # leave ~1/e of the partitions empty (verified) — hash the raw
        # 64-bit doc hash instead
        df = df.repartition(salt_partitions, F.xxhash64(F.col("doc_id")))
    return df.mapInArrow(on_worker(_arrow_kernel_factory(options)), schema=EXTRACT_SCHEMA)


def exploded_spans(df_extracted: DataFrame) -> DataFrame:
    """Flatten extraction output to one row per span (for SQL-comparable
    query results; the pipeline itself stays explode-free)."""
    return df_extracted.select(
        "doc_id",
        "status",
        F.posexplode_outer("spans").alias("pos", "span"),
    ).select(
        "doc_id",
        "status",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.order").alias("span_order"),
    )


def partition_metrics(df_extracted: DataFrame) -> DataFrame:
    """Per-partition lineage metrics (map-side combinable aggregation)."""
    return df_extracted.groupBy("partition_id").agg(
        F.count("*").alias("doc_count"),
        F.sum("n_spans").alias("span_count"),
        F.sum("n_text_chars").alias("text_chars"),
        F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("error_count"),
        F.sum(F.when(F.col("status") == "divergent", 1).otherwise(0)).alias(
            "divergent_count"
        ),
    )
