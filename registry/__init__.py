"""The gate queries, one `Query` record each, grouped by domain in this
package's modules. A record holds everything about one query: its
builder, the DuckDB oracle that reconstructs the same rows from the raw
tables, the plan pins its unexecuted plan must hold, and the names of its
Python-crossing nodes. `__spark_entry__.py` derives the driver contract
(`queries()`, `oracle_sql()`, `plan_pins()`, `PYTHON_CROSSINGS`) from
`RECORDS`.

Builders run on the driver only: they compose `html_parser_spark`
operators, and nothing defined here is shipped to an executor (the
`--py-files` zip holds the engine package alone).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]
Pin = tuple[str, Callable[[str], bool]]


class Query(NamedTuple):
    """`build(spark, sf_dir)` returns the query's DataFrame; `oracle` is its
    DuckDB SQL over the same sf's parquet tables; each pin is a
    (description, predicate over explain('formatted') text) pair; and
    `crossings` names every Python-crossing node of the plan
    (`registry.plans.crossings`), in any order."""

    name: str
    build: Builder
    oracle: str
    pins: tuple[Pin, ...] = ()
    crossings: tuple[str, ...] = ()


RECORDS: dict[str, Query] = {}


def query(name: str, oracle: str, pins: tuple[Pin, ...] = (),
          crossings: tuple[str, ...] = ()) -> Callable[[Builder], Builder]:
    """Record the decorated builder as query `name`. The builder comes back
    unchanged, so composed builders call each other directly."""

    def record(build: Builder) -> Builder:
        if name in RECORDS:
            raise ValueError(f"query {name!r} is declared twice")
        RECORDS[name] = Query(name, build, oracle, pins, crossings)
        return build

    return record


def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def documents_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, repartitioned to the session's parallelism — for the
    CPU-bound Python-kernel queries (media synth/decode, PDF parse): the
    small-sf table is a single parquet split, which would run the whole
    mapInArrow chain in ONE task; the round-robin Exchange costs ~nothing
    against a 32x kernel speedup and is exactly what a production run over
    few-but-huge input files needs too."""
    return documents(spark, sf_dir).repartition(spark.sparkContext.defaultParallelism)


def embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# DuckDB spelling of functions/text.py WORD_HASH (32-bit md5 prefix)
WORD_HASH_D = "CAST('0x' || substr(md5({w}), 1, 8) AS BIGINT)"
