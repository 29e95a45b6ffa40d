"""Structured Streaming wrapper for the extraction pipeline.

The reference is strictly batch (SURVEY.md §2.2: no streaming abstraction),
so this is engine capability beyond parity: continuous extraction over an
arriving interleaved-doc feed.

  readStream(parquet dir, INPUT_SCHEMA)
    -> the SAME fused mapInArrow kernel (stateless: per-doc extraction
       needs no cross-batch state, so it streams unchanged)
    -> writeStream parquet + checkpointLocation (exactly-once file sink)
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..kernels.extract import ExtractOptions
from ..operators.extract import INPUT_SCHEMA, extract_spans


def read_doc_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: Optional[int] = None
) -> DataFrame:
    reader = spark.readStream.schema(INPUT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def extract_stream(
    stream_df: DataFrame, options: Optional[ExtractOptions] = None
) -> DataFrame:
    """The extraction transform on a streaming DataFrame (no salting: a
    streaming micro-batch is already split by the source; skew defense at
    ingestion is the writer's partitioning)."""
    return extract_spans(stream_df, options=options)


def start_extract_sink(
    extracted: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

