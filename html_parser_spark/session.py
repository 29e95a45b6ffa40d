"""Recommended Spark confs for this engine's plan shapes.

The pipelines here persist small-but-hot intermediates (LSH candidate pairs,
shingle-array tables) and chain several tiny adaptive stages. Two AQE
defaults hurt that shape badly on both toy and production inputs:

- ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` defaults to
  false, so CACHED plans keep their full ``spark.sql.shuffle.partitions``
  fan-out forever: every downstream read of a persisted candidate set
  schedules shuffle.partitions near-empty tasks (measured: a 64-task stage
  over ~3k cached rows). True lets AQE coalesce below the cache too.
- ``spark.sql.adaptive.coalescePartitions.parallelismFirst`` defaults to
  true, which coalesces only down to the default parallelism — on a busy
  cluster (or an oversubscribed local[32]) that still schedules cores-many
  tasks for kilobyte stages. False coalesces to the advisory partition size
  (64 MB), which is also what you want at 100 TB: partition count tracks
  DATA, not cluster width. (Spark's own docs recommend false on busy
  clusters.)

Measured effect (sf0.1 documents, local[32], interleaved A/B, median of 5):
minhash LSH 5.0 s -> 2.0 s; every multi-stage query in the sweep benefits.
"""

from __future__ import annotations

SCALE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # The integer rank paths (functions/graph pagerank/hits) rely on ANSI
    # arithmetic: a bigint overflow raises ARITHMETIC_OVERFLOW instead of
    # wrapping into a wrong rank. This is the Spark 4 default; pinning it
    # keeps it true whatever the deployment's default.
    "spark.sql.ansi.enabled": "true",
    # NOT set here: spark.sql.execution.arrow.maxRecordsPerBatch. Measured
    # both ways — 4096 beat the 10k default at local[32] with 128 input
    # partitions (7.14 -> 6.58 s), but REGRESSED the scaling protocol's
    # local[16] / 8 MB-split shape (10.7 -> 12.1 s median, interleaved).
    # Batch size interacts with split sizing and worker count; leave the
    # default and tune per deployment, not globally.
    # Nor spark.sql.execution.arrow.maxBytesPerBatch, the byte cap the
    # mega-doc advice names (Spark 4.1 applies it to Python UDF input in
    # BatchedPythonArrowInput.writeSizedBatch). perfbench markup_spans,
    # local[4], 4-vCPU VM, interleaved pairs against the default: before
    # the worker bootstrap (worker.py) a 1 MiB cap lost 4 of 4 pairs
    # (9,551 vs 11,262 docs/s median, cpu_s_per_kdoc +22%) and 4 MiB won
    # 1 of 4; after it, 1 MiB won 6 of 10 on docs/s (13,561 vs 13,016
    # median, ratios 0.81-1.56) and cut peak RSS 5% in 10 of 10, and
    # 4 MiB won 2 of 4. No throughput gain holds, so the cap stays a
    # per-deployment memory bound for mega-doc corpora.
}


def apply_scale_confs(builder):
    """Apply SCALE_CONFS to a SparkSession.Builder (returns the builder)."""
    for k, v in SCALE_CONFS.items():
        builder = builder.config(k, v)
    return builder
