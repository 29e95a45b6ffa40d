"""Owner-scoped cache lifetimes: the one place the package persists.

Library code persists an intermediate through `persist(df)`; the code that
runs the action owns the scope (`with scope(spark): ...`) and every frame
persisted inside it is unpersisted when the scope exits. Outside a scope
`persist` is a no-op: a cache with no owner would never be released, and
Spark recomputes the same rows without it.

Scopes never nest: opening one closes the open one first. Spark's
CacheManager keys entries by analyzed plan and is shared by every session
of one SparkContext, so there is one scope per context, and structurally
identical plans persisted in it (one shared entry) are released together.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_held: dict = {}  # SparkContext -> frames persisted in its open scope


def persist(df: DataFrame) -> DataFrame:
    held = _held.get(df.sparkSession.sparkContext)
    if held is not None:
        held.append(df.persist())
    return df


def _close(spark: SparkSession) -> None:
    for df in _held.pop(spark.sparkContext, ()):
        df.unpersist(False)


def open_scope(spark: SparkSession) -> None:
    """Close the context's open scope, if any, and open a fresh one that
    stays open until the next `open_scope` or `scope` exit."""
    _close(spark)
    _held[spark.sparkContext] = []


@contextmanager
def scope(spark: SparkSession):
    open_scope(spark)
    try:
        yield
    finally:
        _close(spark)
