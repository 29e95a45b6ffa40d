"""Custom stateful streaming operators (applyInPandasWithState).

`dedup_stream`: streaming exact deduplication — emit only the FIRST document
ever seen for each content key, across micro-batches and restarts (state
lives in the checkpoint). This is the streaming face of the exact-dedup
operator (functions/dedup.exact_groups) for continuous ingestion: content
keys arrive unbounded, so state is per-key minimal (a single seen flag) and
keys partition across executors by the groupBy hash.

`dedup_stream_banded`: streaming NEAR-dup via banded MinHash — each doc
emits one state lookup per LSH band; a doc is a duplicate if ANY of its
bands was first claimed by a different doc (the multi-probe semantics the
single-key variants cannot express: a simhash/md5 key only collapses
identical word-sets). Per-band verdicts stream out; `resolve_band_verdicts`
folds them to one row per doc (all bands of a doc land in the same
micro-batch, so the fold is batch-local — run it in foreachBatch or over
the accumulated sink).

At 10^12-doc scale the seen-set cannot live in one process — these
operators shard it by key hash across the cluster's state store, which is
exactly what groupBy + per-key state gives."""

from __future__ import annotations

from typing import Any, Iterator

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

from ..worker import on_worker

DEDUP_OUT_SCHEMA = StructType(
    [
        StructField("content_key", StringType()),
        StructField("doc_id", StringType()),
        StructField("n_dupes_in_batch", LongType()),
    ]
)
DEDUP_STATE_SCHEMA = StructType([StructField("seen", LongType())])


def _dedup_fn(
    key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState  # noqa: F821
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    total = 0
    rep: Any = None  # canonical survivor: min doc_id in the INPUT's dtype
    # (numeric min for numeric ids, matching functions/dedup.exact_groups;
    # batch row order is nondeterministic so an explicit min is required)
    for pdf in pdfs:
        total += len(pdf)
        if len(pdf):
            m = pdf["doc_id"].min()
            rep = m if rep is None or m < rep else rep
    if state.exists:
        (seen,) = state.get
        state.update((seen + total,))
        return  # key already emitted in an earlier batch: drop everything
    state.update((total,))
    yield pd.DataFrame(
        {
            "content_key": [key[0]],
            "doc_id": [str(rep)],
            "n_dupes_in_batch": pd.array([total], dtype="int64"),
        }
    )


def dedup_stream(stream_df: DataFrame, key_expr: str = "md5(text)") -> DataFrame:
    """(doc_id, text) stream -> first-seen rows per content key.

    key_expr: any deterministic SQL expression over the input row (default:
    exact-content md5; swap in a simhash/minhash band expression from
    functions.dedup for NEAR-dup streaming).

    doc_id keeps its ORIGINAL type through the groupBy so the survivor is the
    numeric min for numeric ids (e.g. 9 < 10, not '10' < '9'); it is cast to
    string only in the output row."""
    keyed = stream_df.select(
        F.expr(key_expr).alias("content_key"),
        F.col("doc_id").alias("doc_id"),
    )
    return keyed.groupBy("content_key").applyInPandasWithState(
        on_worker(_dedup_fn),
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


BANDED_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("band", IntegerType()),
        StructField("content_key", StringType()),
        StructField("first_doc", StringType()),  # who claimed this band key
    ]
)
BANDED_STATE_SCHEMA = StructType(
    [StructField("first_doc", StringType()), StructField("hits", LongType())]
)


def _banded_fn(
    key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState  # noqa: F821
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    frames = [pdf for pdf in pdfs if len(pdf)]
    if not frames:
        return
    batch = pd.concat(frames) if len(frames) > 1 else frames[0]
    if state.exists:
        first, hits = state.get
    else:
        # first claim: batch row order is nondeterministic, so the claimant
        # is the explicit min doc_id in the INPUT's dtype (numeric for
        # numeric ids), matching dedup_stream's survivor rule
        first, hits = str(batch["doc_id"].min()), 0
    state.update((first, hits + len(batch)))
    yield pd.DataFrame(
        {
            "doc_id": batch["doc_id"].astype(str),
            "band": pd.array([key[0]] * len(batch), dtype="int32"),
            "content_key": [key[1]] * len(batch),
            "first_doc": [first] * len(batch),
        }
    )


def band_rows(df: DataFrame, k: int = 8, rows_per_band: int = 2) -> DataFrame:
    """(doc_id, band, content_key): one row per LSH band of every doc with
    at least 3 words. The shingle array is projected once as a `garr`
    column and functions/dedup.band_key_exprs — the one signature and band
    builder the batch minhash_lsh_pairs / fuzzy_join use — reads it, so a
    streaming run and a batch run bucket identically and each doc's array
    is built once, not once per min-hash."""
    from ..functions.dedup import band_key_exprs, shingle_array_expr

    keys = band_key_exprs("garr", k, rows_per_band)
    cells = ", ".join(f"{band}, {key}" for band, key in enumerate(keys))
    return (
        df.where(F.expr("size(split(text, ' ')) >= 3"))
        .select("doc_id", F.expr(shingle_array_expr()).alias("garr"))
        .select("doc_id", F.expr(f"stack({len(keys)}, {cells}) as (band, content_key)"))
    )


def dedup_stream_banded(
    stream_df: DataFrame, k: int = 8, rows_per_band: int = 2
) -> DataFrame:
    """(doc_id, text) stream -> per-band claim verdicts for NEAR-dup
    detection: each doc emits one row per LSH band with the band's
    content_key and the doc that FIRST claimed that key (cross-batch, state
    in the checkpoint). A doc is a near-duplicate iff any row has
    first_doc != doc_id; `resolve_band_verdicts` folds that per doc.

    Docs with fewer than 3 words have no shingles and are dropped here
    (mirroring the batch LSH path — an empty signature would collide all
    short docs into one degenerate bucket); route them through the exact
    `dedup_stream` instead.

    State is per (band, key): n_bands entries per unique signature region,
    sharded by groupBy hash — the streaming analogue of the batch bucket
    groupBy, so no executor ever holds the global seen-set."""
    keyed = band_rows(stream_df, k, rows_per_band)
    return keyed.groupBy("band", "content_key").applyInPandasWithState(
        on_worker(_banded_fn),
        outputStructType=BANDED_OUT_SCHEMA,
        stateStructType=BANDED_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def resolve_band_verdicts(verdicts: DataFrame) -> DataFrame:
    """Fold per-band claim rows to one row per doc:
    (doc_id, n_bands, dup_of, is_dup) — dup_of = the minimal other doc that
    claimed one of this doc's bands first (null for survivors). Batch-side
    (use in foreachBatch or over the accumulated sink): all bands of a doc
    are emitted in the micro-batch the doc arrived in, so the fold never
    spans state."""
    return (
        verdicts.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bands"),
            F.min(
                F.when(F.col("first_doc") != F.col("doc_id"), F.col("first_doc"))
            ).alias("dup_of"),
        )
        .select(
            "doc_id",
            "n_bands",
            "dup_of",
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )
