"""Streaming HyperLogLog: cross-batch distinct counting in the state store
(applyInPandasWithState), register-compatible with the batch sketch.

Each (group, register) key holds ONE bigint of state — the max rho ever
seen — so the total state is groups x 256 rows no matter how many keys
stream through: the property that makes distinct-count viable on an
unbounded stream (a streaming COUNT(DISTINCT) would buffer every key
forever). A row is EMITTED only when a register's max increases (append
mode, monotone), so the sink stays tiny too; the latest row per
(group, register) is the register's current value.

`hll_estimate_from_registers` folds a sink of emitted rows through the
SAME estimator stage as the batch path (functions/sketch.fold_registers),
so a closed stream's estimate equals `hll_distinct` over the union of all
batches EXACTLY — pinned by
tests/test_streaming_sketch.py::test_stream_equals_batch_hll.
"""

from __future__ import annotations

from typing import Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.sketch import RHO_CAP, _register_rho_exprs, fold_registers
from ..worker import on_worker

HLL_STREAM_OUT_SCHEMA = StructType(
    [
        StructField("group_key", StringType()),
        StructField("_reg", IntegerType()),
        StructField("_mrho", IntegerType()),
    ]
)
HLL_STREAM_STATE_SCHEMA = StructType([StructField("mrho", IntegerType())])


def _hll_fn(
    key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState  # noqa: F821
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    batch_max = 0
    for pdf in pdfs:
        if len(pdf):
            batch_max = max(batch_max, int(pdf["_rho"].max()))
    prev = state.get[0] if state.exists else 0
    if batch_max <= prev:
        return  # register unchanged: emit nothing, state untouched
    state.update((batch_max,))
    yield pd.DataFrame(
        {
            "group_key": [key[0]],
            "_reg": pd.array([key[1]], dtype="int32"),
            "_mrho": pd.array([batch_max], dtype="int32"),
        }
    )


def hll_stream(
    stream_df: DataFrame, key_expr: str, group_expr: str = "'all'"
) -> DataFrame:
    """Streaming register updates: (group_key, _reg, _mrho) rows, emitted
    only when a register's max rho grows (monotone append)."""
    reg, rho = _register_rho_exprs(key_expr)
    keyed = stream_df.selectExpr(
        f"cast({group_expr} as string) as group_key",
        f"cast({reg} as int) as _reg",
        f"least({rho}, {RHO_CAP}) as _rho",
    )
    return keyed.groupBy("group_key", "_reg").applyInPandasWithState(
        on_worker(_hll_fn),
        outputStructType=HLL_STREAM_OUT_SCHEMA,
        stateStructType=HLL_STREAM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hll_estimate_from_registers(
    emitted: DataFrame, groups: Sequence[str] = ("group_key",)
) -> DataFrame:
    """Fold an emitted-rows sink to per-group estimates: the LATEST value
    of each register is its max (emissions are monotone), then the shared
    batch estimator stage."""
    per_reg = emitted.groupBy(*groups, "_reg").agg(
        F.expr("cast(max(_mrho) as int)").alias("_mrho")
    )
    return fold_registers(per_reg, list(groups))


# ---------------------------------------------------------------------------
# Streaming Count-Min: additive cell state
# ---------------------------------------------------------------------------

CM_STREAM_OUT_SCHEMA = StructType(
    [
        StructField("group_key", StringType()),
        StructField("hrow", IntegerType()),
        StructField("bucket", IntegerType()),
        StructField("cnt", LongType()),
    ]
)
CM_STREAM_STATE_SCHEMA = StructType([StructField("cnt", LongType())])


def _cm_fn(
    key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState  # noqa: F821
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    batch = 0
    for pdf in pdfs:
        batch += len(pdf)
    if batch == 0:
        return
    total = (state.get[0] if state.exists else 0) + batch
    state.update((total,))
    # emit the RUNNING total: the latest row per cell (max cnt — counts
    # are monotone) is the cell's current value
    yield pd.DataFrame(
        {
            "group_key": [key[0]],
            "hrow": pd.array([key[1]], dtype="int32"),
            "bucket": pd.array([key[2]], dtype="int32"),
            "cnt": pd.array([total], dtype="int64"),
        }
    )


def countmin_stream(
    stream_df: DataFrame,
    term_expr: str,
    group_expr: str = "'all'",
    d: int = 4,
    hex_chars: int = 1,
) -> DataFrame:
    """Streaming Count-Min cells: each (group, hrow, bucket) key holds one
    additive counter in the state store (O(groups * d * 16^hex_chars)
    state for an unbounded term stream); every batch that touches a cell
    emits its new running total (monotone append)."""
    from ..functions.sketch import _cm_bucket

    keyed = stream_df.selectExpr(
        f"cast({group_expr} as string) as group_key", f"{term_expr} as _t"
    ).selectExpr(
        "group_key",
        f"posexplode(transform(sequence(0, {d - 1}), "
        f"i -> {_cm_bucket('_t', 'i', hex_chars)})) as (hrow, bucket)",
    )
    return keyed.groupBy("group_key", "hrow", "bucket").applyInPandasWithState(
        on_worker(_cm_fn),
        outputStructType=CM_STREAM_OUT_SCHEMA,
        stateStructType=CM_STREAM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def countmin_cells_from_stream(emitted: DataFrame) -> DataFrame:
    """Fold an emitted-rows sink to the current sketch: latest (= max,
    counts are monotone) value per cell — directly consumable by
    functions/sketch.countmin_estimate."""
    return emitted.groupBy("hrow", "bucket").agg(
        F.expr("cast(max(cnt) as bigint)").alias("cnt")
    )
