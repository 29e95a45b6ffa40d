"""The one row-at-a-time way into Python: `map_rows(df, fn, schema)`.

`fn(*row)` runs once per input row (the values of df's columns, in column
order, as plain Python objects) and returns an iterable of output tuples
laid out like `schema` — zero, one or many rows per input row. Everything
else is the adapter's: one mapInArrow stage, each input column converted
once per batch (`to_pylist`), the Arrow schema derived from the Spark
StructType (never hand-copied), and the output batch built column by
column with the field's Arrow type.

Output values may nest: an array is a Python list (None for a null
array), and a struct value is either a dict keyed by field name or a
tuple in field order, at any depth — parse's list<struct<...,
list<struct>>> nodes column is built this way by pyarrow, in C++.

Only operators/extract keeps a hand-built flat child-array rebuild (its
input is a list<struct> column it decomposes without per-span objects);
every other kernel goes through here.

Both hand the kernel to Spark as `worker.on_worker(kernel)`, as every
Python entry point of the package does: pyspark's worker calls
`importlib.invalidate_caches()` before every task (`worker_util.py`), and
CPython 3.11's zipimporter then re-reads pyspark.zip, py4j and the
spark-core jar in full (106-206 ms of CPU per task, measured in a local[4]
worker). The bootstrap re-reads an archive only when it changed.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..worker import on_worker


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: StructType
) -> DataFrame:
    """df -> DataFrame[schema]: fn(*row) over df's columns, in one
    mapInArrow stage."""

    def kernel(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        for batch in batches:
            rows = [
                out
                for row in zip(*(col.to_pylist() for col in batch.columns))
                for out in fn(*row)
            ]
            cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    return df.mapInArrow(on_worker(kernel), schema)
