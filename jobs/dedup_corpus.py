"""spark-submit entry point for corpus near-dup resolution.

    spark-submit --master <cluster> --py-files engine.zip jobs/dedup_corpus.py \
        --input <parquet dir of (doc_id, text, ...)> --output <dir> \
        [--threshold-permille 700] [--max-bucket 10000] [--resume]

Runs the full dedup chain on one corpus:

  exact groups   md5 groupBy (map-side combinable)
  near-dup pairs MinHash+LSH (functions/dedup.minhash_lsh_pairs — banded
                 buckets, candidate-bounded verify, never all-pairs)
  clusters       transitive closure via alternating large-star/small-star
  survivors      one row per doc: keep = (doc is its cluster's min id, or
                 in no cluster at all)

Output layout (all parquet + one JSON):
  <output>/pairs/      (doc_a, doc_b, inter, union_sz, jacc_permille)
  <output>/clusters/   (doc_id, rep_doc_id, cluster_size)
  <output>/survivors/  (doc_id, rep_doc_id, keep)
  <output>/metrics.json  one line: corpus/pair/cluster/drop counts,
                         LSH coverage-loss observation, wall seconds

metrics.json is written LAST and is the commit marker: with --resume the
job exits 0 immediately when it exists (the artifacts are consistent), so
a scheduler can blindly re-submit after failures. Unlike extraction
(per-group lineage in sources/checkpoint.py), dedup is a global
computation — the unit of resume is the whole job, and every write is an
idempotent overwrite.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv=None, spark=None) -> int:
    """CLI entry. Tests may inject an existing `spark` session — the job
    then neither builds nor stops one."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir with (doc_id, text)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--threshold-permille", type=int, default=700)
    ap.add_argument("--max-bucket", type=int, default=10_000)
    ap.add_argument("--resume", action="store_true")
    args = ap.parse_args(argv)

    metrics_path = os.path.join(args.output, "metrics.json")
    if args.resume and os.path.exists(metrics_path):
        with open(metrics_path) as f:
            print(f.read().strip())
        return 0

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from html_parser_spark import cache
    from html_parser_spark.functions import dedup as DD
    from html_parser_spark.session import apply_scale_confs

    owns_session = spark is None
    if owns_session:
        spark = apply_scale_confs(
            SparkSession.builder.appName("dedup-corpus")
        ).getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
    t0 = time.time()

    with cache.scope(spark):
        # the corpus feeds three consumers (pairs, exact, survivor base):
        # cache the input projection once
        docs = cache.persist(spark.read.parquet(args.input).select("doc_id", "text"))
        n_docs = docs.count()

        from pyspark.sql import Observation

        obs = Observation("lsh_coverage")
        pairs = DD.minhash_lsh_pairs(
            docs,
            threshold_permille=args.threshold_permille,
            max_bucket=args.max_bucket,
            observation=obs,
        )
        pairs.write.mode("overwrite").parquet(os.path.join(args.output, "pairs"))
        pairs = spark.read.parquet(os.path.join(args.output, "pairs"))

        clusters = DD.connected_components(pairs)
        clusters.write.mode("overwrite").parquet(os.path.join(args.output, "clusters"))
        clusters = spark.read.parquet(os.path.join(args.output, "clusters"))

        survivors = (
            docs.select("doc_id")
            .join(clusters, "doc_id", "left")
            .select(
                "doc_id",
                F.expr("coalesce(rep_doc_id, doc_id)").alias("rep_doc_id"),
                F.expr("cast(rep_doc_id is null or rep_doc_id = doc_id as boolean)").alias(
                    "keep"
                ),
            )
        )
        survivors.write.mode("overwrite").parquet(os.path.join(args.output, "survivors"))
        survivors = spark.read.parquet(os.path.join(args.output, "survivors"))

        n_pairs = pairs.count()
        n_clusters = clusters.select("rep_doc_id").distinct().count()
        n_dropped = survivors.where("not keep").count()
        exact_groups = DD.exact_groups(docs).count()

    metrics = {
        "n_docs": n_docs,
        "n_exact_dup_groups": exact_groups,
        "n_near_dup_pairs": n_pairs,
        "n_clusters": n_clusters,
        "n_dropped_docs": n_dropped,
        "lsh_observation": {k: int(v) for k, v in obs.get.items()},
        "threshold_permille": args.threshold_permille,
        "wall_sec": round(time.time() - t0, 3),
    }
    os.makedirs(args.output, exist_ok=True)
    with open(metrics_path, "w") as f:
        f.write(json.dumps(metrics) + "\n")
    print(json.dumps(metrics))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
