"""Owner-scoped lifetimes: the one place the package persists or checkpoints.

Library code persists an intermediate through `persist(df)` and truncates a
loop's lineage through `checkpoint(df)`; the code that runs the action owns
the scope (`with scope(spark): ...`) and every frame held in it is released
when the scope exits. A loop that no longer reads an earlier round releases
it at once with `release(df)`. Outside a scope `persist` is a no-op: a cache
with no owner would never be released, and Spark recomputes the same rows
without it. `checkpoint` raises instead: its truncation is not optional.

Scopes never nest: opening one closes the open one first. Spark's
CacheManager keys entries by analyzed plan and is shared by every session
of one SparkContext, so there is one scope per context, and structurally
identical plans persisted in it (one shared entry) are released together.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_held: dict = {}  # SparkContext -> {frame held in its open scope: release handle}


def persist(df: DataFrame) -> DataFrame:
    held = _held.get(df.sparkSession.sparkContext)
    if held is not None:
        held[df] = df.persist()
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """An eager local checkpoint of `df`, held by the open scope. Its rows
    live in the LogicalRDD at the root of the returned frame's plan, which
    `DataFrame.unpersist` does not touch; a read after release fails with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, never with wrong rows."""
    held = _held.get(df.sparkSession.sparkContext)
    if held is None:
        raise RuntimeError("cache.checkpoint needs an open cache.scope(spark)")
    out = df.localCheckpoint(eager=True)
    held[out] = out._jdf.queryExecution().logical().rdd()
    return out


def release(df: DataFrame) -> None:
    """Release one frame the open scope holds, now; any other frame is left
    alone."""
    handle = _held.get(df.sparkSession.sparkContext, {}).pop(df, None)
    if handle is not None:
        handle.unpersist(False)


def _close(spark: SparkSession) -> None:
    for handle in _held.pop(spark.sparkContext, {}).values():
        handle.unpersist(False)


def open_scope(spark: SparkSession) -> None:
    """Close the context's open scope, if any, and open a fresh one that
    stays open until the next `open_scope` or `scope` exit."""
    _close(spark)
    _held[spark.sparkContext] = {}


@contextmanager
def scope(spark: SparkSession):
    open_scope(spark)
    try:
        yield
    finally:
        _close(spark)
