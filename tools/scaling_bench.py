"""Two-cluster-size scaling benchmark (north_rule evidence).

Runs the SAME job on the SAME input via `spark-submit --py-files engine.zip`
at local[N] and local[4N] (the sandbox stand-in for N vs 4N executors),
reports throughput at both plus scaling efficiency
  eff = throughput(4N) / (4 * throughput(N))
per operator, and writes BENCH_SCALING.json.

FIVE operators are measured so non-extract kernels can't regress unseen:
  extract  the shuffle-free extraction kernel over the interleaved table
  parse    the full-tree parse kernel (same table, wrap html projected out)
  minhash  MinHash+LSH dedup over a synthetic distinct-text documents table
           (the shuffle-heavy case: bucket groupBy + pair distinct + auto
           verify path). Texts are per-doc-distinct md5 soup with a 2%
           planted exact-dup rate — amplifying REAL docs would make every
           copy pair a near-dup and benchmark a quadratic pair explosion
           instead of the pipeline.
  spans    repeated-span mining over the same documents table (the
           window-heavy 2-exchange class the events analytics share)
  importance  DSIR-shaped importance resampling over the same table (the
           two-pass class: one combinable count shuffle + a row-local
           broadcast-map scoring pass + TakeOrdered)

Per-size wall = MEDIAN of all trials across the interleaved rounds — the
statistic the BASELINE.md protocol specifies ("median of >=3 runs"), and the
robust one for a ratio: a single lucky outlier trial on either side swings a
min/min efficiency by ~0.05 (observed), while the medians of 9 interleaved
trials are stable. Min walls are recorded alongside for transparency.

Usage: python tools/scaling_bench.py [--n 4] [--amplify 300]
       [--minhash-docs 300000] [--ops extract,parse,minhash]
       [--sf-dir 0.1 | sf0.1 | <dir>]

Exits 2 before any Spark process starts when 4N exceeds the cores this
process may run on (os.sched_getaffinity) or the sf directory is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from typing import Optional

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def sh(cmd, **kw):
    print("+", " ".join(cmd), file=sys.stderr)
    return subprocess.run(cmd, check=True, capture_output=True, text=True, **kw)


def host_refusal(n: int, usable_cores: int) -> Optional[str]:
    """Why a host with `usable_cores` cores cannot run the N vs 4N protocol
    at N=n, or None when it can. 4N above the usable cores would measure an
    oversubscribed ratio, not scaling. (No memory check: the 16g JVM
    heap is reserved, not committed up front.)"""
    if n < 1:
        return f"--n must be >= 1, got {n}"
    if 4 * n > usable_cores:
        return f"4N = {4 * n} cores exceeds the {usable_cores} usable cores of this host"
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    # N=4 -> 4N=16: both sizes leave hardware headroom on the 32-thread host
    # for the Python worker pool + JVM shuffle/scheduler threads (a real
    # cluster gives each executor dedicated cores; local[32] oversubscribes
    # 2x and measures contention, not scaling).
    ap.add_argument("--n", type=int, default=4, help="small cluster size N (big is 4N)")
    # 600 x 5k sf0.1 docs = the 3M-doc corpus BASELINE.md's protocol states;
    # a half-size run (amplify 300) measured extract at 0.708 simply because
    # ~6 s 4N walls are fixed-cost-dominated — the corpus size is part of
    # the protocol, keep the default in lockstep with BASELINE.md
    ap.add_argument("--amplify", type=int, default=600)
    # the LSH pipeline is ~10 shuffle stages deep, and each stage boundary
    # costs ~0.8 s of driver latency that is CONSTANT in cluster size (task
    # launch + shuffle setup + AQE replan). At 150k docs that fixed ~8 s/pass
    # floor capped measured efficiency at 0.41; at 600k the scalable shuffle
    # work dominates (measured 0.71, and the floor keeps shrinking with
    # corpus — at real corpus sizes walls are minutes and the floor
    # vanishes). Sized so an N invocation stays ~4-5 min.
    ap.add_argument("--minhash-docs", type=int, default=600_000)
    ap.add_argument("--ops", default="extract,parse,minhash,spans,importance")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--workdir", default="/tmp/scaling_bench")
    ap.add_argument(
        "--merge", action="store_true",
        help="update only the ops named in --ops inside the existing "
        "BENCH_SCALING.json (re-measure one op without discarding the rest)",
    )
    ap.add_argument(
        "--out", default=f"{REPO}/BENCH_SCALING.json",
        help="output JSON path (off-protocol probes — e.g. the 1.2M-doc "
        "minhash run — should NOT overwrite the protocol file)",
    )
    args = ap.parse_args()
    refusal = host_refusal(args.n, len(os.sched_getaffinity(0)))
    if refusal:
        print(f"scaling_bench: {refusal}", file=sys.stderr)
        return 2
    ops = args.ops.split(",")
    # '0.1', 'sf0.1' or a path, resolved as tools/gate_check.py does; a
    # missing directory exits before any Spark process starts
    from gate_check import scale_factor_dir

    sf_dir = scale_factor_dir(os.path.dirname(ap.get_default("sf_dir")), args.sf_dir)
    if not os.path.isdir(sf_dir):
        print(f"scaling_bench: no such sf directory: {sf_dir}", file=sys.stderr)
        return 2

    os.makedirs(args.workdir, exist_ok=True)
    interleaved_dir = f"{args.workdir}/input_interleaved"
    docs_dir = f"{args.workdir}/input_docs"
    engine_zip = f"{args.workdir}/engine.zip"

    # 1. package the engine for --py-files
    sh(["sh", f"{REPO}/tools/make_pyfiles.sh", engine_zip])

    # 2. materialize the inputs once (shared by both sizes and all rounds)
    for d in (interleaved_dir, docs_dir):
        if os.path.exists(d):
            shutil.rmtree(d)
    prep = f"""
import sys; sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from html_parser_spark.sources.interleave import interleaved_from_documents
from html_parser_spark.session import apply_scale_confs
spark = apply_scale_confs(SparkSession.builder.master("local[8]").config("spark.ui.enabled","false").config("spark.driver.memory","16g")).getOrCreate()
# driver.memory matches the measured runs: the default 1g heap OOMs the
# input shuffle once --minhash-docs goes past ~1M (2.4M probe = ~5 GB)
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet({sf_dir!r} + "/documents.parquet")
reps = spark.range({args.amplify}).select(F.col("id").alias("rep"))
docs = docs.crossJoin(reps).select((F.col("doc_id") * {args.amplify} + F.col("rep")).alias("doc_id"), "text", "source")
interleaved_from_documents(docs).repartition(64).write.parquet({interleaved_dir!r})
# minhash corpus: per-doc-distinct 64-word md5 soup; every 50th doc copies
# its neighbor's text (2% planted exact-dup rate -> linear pair yield)
spark.range({args.minhash_docs}).select(
    F.col("id").alias("doc_id"),
    F.expr("array_join(transform(sequence(0, 63), i -> md5(concat(CASE WHEN id % 50 = 49 THEN id - 1 ELSE id END, '-', i))), ' ')").alias("text"),
    F.expr("concat('s', id % 7)").alias("source"),
).repartition(64).write.parquet({docs_dir!r})
spark.stop()
"""
    sh([sys.executable, "-c", prep])

    # 3. run each op at both sizes via spark-submit --py-files.
    # Interleaved rounds per size: the host has bursty external load, and
    # interleaving keeps a noise epoch from penalizing only one cluster size.
    import statistics

    op_results = {}
    for op in ops:
        results = {}
        for round_i in range(3):
            for label, cores in (("N", args.n), ("4N", 4 * args.n)):
                r = sh(
                    [
                        "spark-submit",
                        "--master", f"local[{cores}]",
                        "--conf", "spark.ui.enabled=false",
                        "--conf", "spark.driver.memory=16g",
                        # size scan splits to the corpus: default 128m packs the
                        # small parquet files into too few splits to scale, while
                        # 2m made per-task fixed costs (scheduling + Arrow batch
                        # setup) ~20% of the now-faster kernel wall at 4N
                        # (measured: 2m -> eff 0.78, 8m -> 0.95, 16m regresses)
                        "--conf", "spark.sql.files.maxPartitionBytes=8m",
                        "--conf", "spark.sql.files.openCostInBytes=262144",
                        "--py-files", engine_zip,
                        f"{REPO}/jobs/bench_extract.py",
                        "--op", op,
                        "--input", docs_dir
                        if op in ("minhash", "spans", "importance")
                        else interleaved_dir,
                        # uniform corpus: no salt exchange (skew defense is a
                        # separate, correctness-tested path)
                        "--partitions", "0",
                        "--trials", "3",
                    ]
                )
                line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
                run = json.loads(line)
                run["cores"] = cores
                prev = results.get(label)
                if prev is not None:
                    run["walls"] = prev["walls"] + run["walls"]
                results[label] = run

        for run in results.values():
            run["wall_sec_median"] = round(statistics.median(run["walls"]), 3)
            run["wall_sec_min"] = min(run["walls"])
            run["docs_per_sec"] = round(run["n_docs"] / run["wall_sec_median"], 1)
            run["docs_per_sec_min_wall"] = round(run["n_docs"] / run["wall_sec_min"], 1)
            del run["wall_sec"]

        thr_n = results["N"]["docs_per_sec"]
        thr_4n = results["4N"]["docs_per_sec"]
        op_results[op] = {
            "scaling_efficiency": round(thr_4n / (4 * thr_n), 3),
            "throughput_N_docs_per_sec": thr_n,
            "throughput_4N_docs_per_sec": thr_4n,
            "n_docs": results["N"]["n_docs"],
            "runs": results,
        }

    if args.merge and os.path.exists(args.out):
        with open(args.out) as f:
            prior = json.load(f).get("ops", {})
        prior.update(op_results)
        op_results = prior

    headline = op_results.get("extract") or next(iter(op_results.values()))
    out = {
        "metric": "scaling_efficiency_N_to_4N",
        "value": headline["scaling_efficiency"],
        "unit": "ratio",
        "N_cores": args.n,
        "throughput_N_docs_per_sec": headline["throughput_N_docs_per_sec"],
        "throughput_4N_docs_per_sec": headline["throughput_4N_docs_per_sec"],
        "n_docs": headline["n_docs"],
        "ops": op_results,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
