"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads:

- ``markup_spans``: a seeded FIXTURES section 1 corpus through the
  ``extract_spans`` kernel (strict) to the noop sink.
- ``dedup_graph``: the registry queries dedup_minhash_lsh, dedup_semantic,
  graph_domain_pagerank and text_bpe_vocab over seeded tables in the sf0.1
  shape, each result checked against its DuckDB oracle.

Spark runs as local[N], N = min(4, cores), from this one process, with a
pinned heap and partition counts. After set-up and one warm-up pass, the
run repeats passes for ``--seconds`` and reports medians. Every pass is
checked; a failed check counts in ``failed`` and makes ``correct`` false.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables Spark's
event log, records spans around every call into the program, probes each
layer and prints the per-layer metrics (see perfbench/NOTES.md). The last
stdout line is the result object; the line before it records the run.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import proctree  # noqa: E402
import sparkctl  # noqa: E402
from tracing import Tracer  # noqa: E402

WORKLOADS = ("markup_spans", "dedup_graph")
# After one cold pass the JVM's JIT and the Python workers are still
# settling: the next pass ran up to a quarter (markup_spans) and a third
# (dedup_graph) slower than later ones, and varied as much between runs.
WARMUP_PASSES = 2


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat", "rb") as f:
        data = f.read()
    start_ticks = int(data[data.rindex(b")") + 2 :].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def make_workload(name: str, seed: int, work: str):
    if name == "markup_spans":
        from markup import MarkupSpans

        return MarkupSpans(seed, work)
    from dedup import DedupGraph

    return DedupGraph(seed, work)


def measure(w, spark, seconds: float, tracer: Tracer) -> dict:
    """Timed passes until the next one would end past ``seconds``."""
    walls, cpus, failed, persisted = [], [], 0, []
    t_loop = time.perf_counter()
    i = 0
    while True:
        group = f"pass-{i}"
        sparkctl.job_group(spark, group)
        with tracer.span(f"pass.{w.name}", group=group):
            cpu0 = proctree.tree_cpu_s()
            t0 = time.perf_counter()
            check = w.run_pass(spark, i, tracer)
            walls.append(time.perf_counter() - t0)
            cpus.append(proctree.tree_cpu_s() - cpu0)
        problems = check()
        # drop this pass's DataFrames and collect now, so cache releases
        # driven by the program's finalizers land at the same point every run
        del check
        gc.collect()
        persisted.append(sparkctl.persistent_rdds(spark))
        if problems:
            failed += 1
            print(f"perfbench: pass {i} failed its check: {problems[:5]}", file=sys.stderr)
        i += 1
        elapsed = time.perf_counter() - t_loop
        if elapsed + statistics.median(walls) > seconds:
            break
    return {"walls": walls, "cpus": cpus, "failed": failed, "persisted": persisted}


def run(args) -> tuple:
    t_proc0 = time.perf_counter() - process_age_s()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return _run(args, work, t_proc0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, t_proc0: float) -> tuple:
    tracer = Tracer(enabled=bool(args.trace))
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    w = make_workload(args.workload, args.seed, work)
    with proctree.PeakRss() as rss:
        with tracer.span("setup.session"):
            t = time.perf_counter()
            spark = sparkctl.start(ROOT, work, event_dir)
            session_s = time.perf_counter() - t
        try:
            with tracer.span("setup.input"):
                t = time.perf_counter()
                w.setup_input(spark)
                input_s = time.perf_counter() - t
            with tracer.span("setup.warmup"):
                sparkctl.job_group(spark, "warmup")
                t = time.perf_counter()
                warm_checks = [w.run_pass(spark, -1, tracer)() for _ in range(WARMUP_PASSES)]
                gc.collect()
                warmup_s = time.perf_counter() - t
            setup_s = time.perf_counter() - t_proc0
            res = measure(w, spark, args.seconds, tracer)
            layers, probe_checks = w.layers(spark, tracer) if args.trace else ({}, [])
            peak_mb = rss.mb
        finally:
            sparkctl.stop(spark)

    walls, n = res["walls"], len(res["walls"])
    checks = [*warm_checks, *probe_checks]
    for problems in checks:
        if problems:
            print(f"perfbench: a check failed: {problems[:5]}", file=sys.stderr)
    failed = res["failed"] + sum(1 for p in checks if p)
    attempted = n + len(checks)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": sparkctl.cores(),
        "passes": n,
        "pass_walls_s": [round(x, 4) for x in walls],
        "setup_parts_s": [round(x, 3) for x in (session_s, input_s, warmup_s)],
        **w.info,
    }
    if not args.trace:
        metrics = {
            "docs_per_s": w.docs / statistics.median(walls),
            "cpu_s_per_kdoc": sum(res["cpus"]) / (w.docs * n) * 1000.0,
            "setup_s": setup_s,
            "peak_rss_mb": peak_mb,
        }
        return info, attempted, failed, metrics

    from eventlog import spark_metrics

    metrics = {
        **layers,
        "cache.persistent_rdds": max(res["persisted"]),
        "setup.session_s": session_s,
        "setup.input_s": input_s,
        "setup.warmup_s": warmup_s,
        "trace.docs_per_s": w.docs / statistics.median(walls),
        **spark_metrics(event_dir, groups=[f"pass-{i}" for i in range(n)]),
    }
    tracer.write(os.path.join(ROOT, ".perfbench_work", f"trace-{args.workload}-{args.seed}.json"))
    return info, attempted, failed, metrics


def unit_of(name: str) -> str:
    """The unit of a metric, from its name."""
    exact = {
        "docs_per_s": "docs/s",
        "trace.docs_per_s": "docs/s",
        "cpu_s_per_kdoc": "s/kdoc",
        "peak_rss_mb": "MB",
        "ledger.residual_frac": "ratio",
        "sink.mb_written": "MB",
    }
    if name in exact:
        return exact[name]
    for suffix, unit in (("_s", "s"), (".p50", "s"), (".p90", "s"), (".max", "s"), ("_mb", "MB"), (".us_per_doc", "us/doc")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import html_parser_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program or its toolchain is missing: {e}", file=sys.stderr)
        return 2
    try:
        info, attempted, failed, metrics = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(info), flush=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
