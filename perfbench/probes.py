"""Per-layer probes for the traced run.

Each probe times one layer from outside the program, through its public
functions, over the running workload's own input:

- scan: a noop write of the cached input DataFrame;
- crossing: an identity ``mapInArrow`` over the same input and partitions
  (includes the scan);
- extract: the ``extract_spans`` pass to the noop sink;
- kernels: ``kernels.extract.extract_doc_spans`` and
  ``kernels.heuristics.extract_main_content`` timed in this process on
  one core;
- checkpoint and sink: one ``jobs/extract.main`` run into a fresh output
  directory, its lineage checked against the workload's closed form.

The ledger splits the extract pass wall into crossing (scan included),
kernel core-seconds spread over N cores, and the residual: Arrow decode
and rebuild, scheduling and everything else the first two miss.
"""

from __future__ import annotations

import io
import json
import os
import statistics
import time
from contextlib import redirect_stdout

import gen
import sparkctl

REPEATS = 3


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_median(tracer, name: str, fn) -> float:
    walls = []
    for _ in range(REPEATS):
        with tracer.span(name):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def identity_crossing(df):
    def identity(batches):
        yield from batches

    return df.mapInArrow(identity, schema=df.schema)


def _strata(rows: list) -> tuple:
    mega = [r for r in rows if gen.is_mega(r[1])]
    normal = [r for r in rows if not gen.is_mega(r[1])]
    return normal, mega


def driver_us_per_doc(tracer, name: str, per_doc, rows: list, stride: int) -> float:
    """Mean microseconds per document of ``per_doc(spans)`` on this core,
    from every ``stride``-th document of each stratum (mega-docs and the
    rest), weighted back to the whole input."""
    total = 0.0
    with tracer.span(name):
        for stratum in _strata(rows):
            picked = stratum[::stride]
            t0 = time.perf_counter()
            for _doc_id, spans in picked:
                per_doc(spans)
            if picked:
                total += (time.perf_counter() - t0) * len(stratum) / len(picked)
    return total / len(rows) * 1e6


def _kernel(spans) -> None:
    from html_parser_spark.kernels.extract import extract_doc_spans

    for kind, text, _mref, _off in spans:
        if kind == "text":
            extract_doc_spans(text if text is not None else "")


def _heuristics(spans) -> None:
    from html_parser_spark.kernels.heuristics import extract_main_content

    extract_main_content([s[0] for s in spans], [s[1] for s in spans], [s[2] for s in spans])


def extract_layers(spark, tracer, df, rows: list, heuristics_stride: int) -> dict:
    """scan / crossing / extract walls over the cached ``df`` and the kernel
    timings over ``rows`` (the same documents, in this process)."""
    from html_parser_spark.operators.extract import extract_spans

    sparkctl.job_group(spark, "probe")
    scan = timed_median(tracer, "scan", lambda: noop(df))
    crossing = timed_median(tracer, "crossing", lambda: noop(identity_crossing(df)))
    extract = timed_median(tracer, "operators.extract.extract_spans", lambda: noop(extract_spans(df)))
    kern = driver_us_per_doc(tracer, "kernels.extract.extract_doc_spans", _kernel, rows, 1)
    heur = driver_us_per_doc(
        tracer, "kernels.heuristics.extract_main_content", _heuristics, rows, heuristics_stride
    )
    kernel_wall = kern * len(rows) / 1e6 / sparkctl.cores()
    return {
        "scan.wall_s": scan,
        "crossing.wall_s": crossing,
        "extract.wall_s": extract,
        "kernels.extract.us_per_doc": kern,
        "kernels.heuristics.us_per_doc": heur,
        "ledger.residual_frac": 1.0 - (crossing + kernel_wall) / extract,
    }


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def checkpoint_layers(spark, tracer, input_path: str, out_dir: str, mode: str, expect: dict):
    """One checkpointed extraction job; returns (metrics, problems)."""
    import pyarrow.parquet as pq

    from html_parser_spark.kernels.extract import ExtractOptions
    from html_parser_spark.operators.extract import extract_spans
    from jobs import extract as job

    n_groups = 16
    group = "checkpoint"
    sparkctl.job_group(spark, group)
    buf = io.StringIO()
    with tracer.span("jobs.extract.main"), redirect_stdout(buf):
        t0 = time.perf_counter()
        job.main(
            ["--input", input_path, "--output", out_dir, "--mode", mode, "--n-groups", str(n_groups)],
            spark=spark,
        )
        wall = time.perf_counter() - t0
    jobs, _stages = sparkctl.group_counts(spark, group)
    lineage = pq.read_table(os.path.join(out_dir, "lineage")).to_pylist()
    durations = [r["duration_sec"] for r in lineage]
    problems = []
    if sorted(r["group"] for r in lineage) != list(range(n_groups)):
        problems.append(f"committed groups {sorted(r['group'] for r in lineage)}")
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    for k, v in expect.items():
        got = sum(r[k] for r in lineage)
        if got != v or summary[k] != v:
            problems.append(f"lineage {k} {got} (summary {summary[k]}) != {v}")

    sparkctl.job_group(spark, "probe")
    options = ExtractOptions(mode=mode)
    with tracer.span("operators.extract.extract_spans"):
        t0 = time.perf_counter()
        noop(extract_spans(spark.read.parquet(input_path), options=options))
        plain = time.perf_counter() - t0
    metrics = {
        "checkpoint.group_s.p50": statistics.median(durations),
        "checkpoint.group_s.p90": statistics.quantiles(durations, n=10, method="inclusive")[8],
        "checkpoint.jobs": jobs,
        "sink.mb_written": _dir_mb(os.path.join(out_dir, "data")),
        "sink.overhead_s": wall - plain,
    }
    return metrics, problems
