"""minhash_lsh_pairs coverage accounting: `max_bucket` drops degenerate LSH
buckets (quadratic-junk protection), and a production run must be able to SEE
that loss — the optional Observation records dropped_buckets and
dropped_doc_slots when the candidate set materializes. Also the LSH core's
verify joins: no hints, AQE picks them from the session threshold, and
building either operator's plan runs no job."""

from __future__ import annotations

import pytest
from pyspark.sql import Observation

from html_parser_spark.functions import dedup as DD


def _corpus(spark, n_degenerate: int, n_normal_pairs: int):
    # n_degenerate docs share ONE text -> identical signatures -> one bucket
    # per band of size n_degenerate; normal pairs are 2-doc buckets
    rows = [(i, "alpha beta gamma delta epsilon", "s") for i in range(n_degenerate)]
    for j in range(n_normal_pairs):
        text = f"uniq{j} omega psi chi phi tau w{j}"
        rows.append((1000 + 2 * j, text, "s"))
        rows.append((1001 + 2 * j, text, "s"))
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_dropped_bucket_metrics(spark):
    corpus = _corpus(spark, n_degenerate=12, n_normal_pairs=3)
    obs = Observation("lsh-drops")
    pairs = DD.minhash_lsh_pairs(corpus, max_bucket=10, observation=obs)
    out = pairs.collect()
    got = obs.get
    # 4 bands, each with one 12-doc bucket over the cap
    assert got["dropped_buckets"] == 4
    assert got["dropped_doc_slots"] == 48
    # degenerate docs contribute NO pairs; the 3 normal pairs survive
    ids = {d for r in out for d in (r.doc_a, r.doc_b)}
    assert all(i >= 1000 for i in ids)
    assert len(out) == 3


def test_metrics_zero_when_cap_does_not_bite(spark):
    corpus = _corpus(spark, n_degenerate=3, n_normal_pairs=2)
    obs = Observation("lsh-no-drops")
    pairs = DD.minhash_lsh_pairs(corpus, max_bucket=10, observation=obs)
    n = pairs.count()
    got = obs.get
    assert got["dropped_buckets"] == 0
    assert got["dropped_doc_slots"] == 0
    # 3 identical docs -> 3 pairs; plus the 2 planted pairs
    assert n == 5


def test_fuzzy_join_cross_table_only(spark):
    from html_parser_spark.functions.dedup import fuzzy_join

    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    left = spark.createDataFrame(
        [
            (1, t),
            (2, t + " extra"),  # near-dup of 1 WITHIN left: must not pair
            (3, "completely different words here nothing shared at all ok"),
        ],
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [
            (101, t),                      # exact copy of 1 -> 1000 permille
            (102, t.replace(" kappa", "")), # near copy of 1
            (103, "unrelated corpus text with zero overlapping trigrams yes"),
        ],
        "doc_id long, text string",
    )
    got = {(r.left_id, r.right_id): r for r in fuzzy_join(left, right).collect()}
    assert (1, 101) in got and got[(1, 101)].jacc_permille == 1000
    assert (1, 102) in got and 600 <= got[(1, 102)].jacc_permille < 1000
    # no within-table pairs, no unrelated pairs
    assert all(l < 100 and r >= 100 for l, r in got)
    assert not any(3 == l or r == 103 for l, r in got)


def _planted(spark):
    return DD.plant_dups(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )


def _lsh_pairs(corpus, fn):
    """One of the two LSH-core operators: minhash_lsh_pairs over the whole
    corpus, or fuzzy_join of the planted copies against the originals."""
    if fn == "minhash_lsh_pairs":
        return DD.minhash_lsh_pairs(corpus)
    return DD.fuzzy_join(
        corpus.where(f"doc_id < {DD.EXACT_OFFSET}"),
        corpus.where(f"doc_id >= {DD.EXACT_OFFSET}"),
    )


LSH_OPS = ["minhash_lsh_pairs", "fuzzy_join"]


@pytest.fixture(scope="module")
def threshold_runs(spark):
    """Each LSH-core operator run twice: at the session's default
    autoBroadcastJoinThreshold and with broadcasting disabled ("-1"). Maps
    the operator name to (rows, executed plan) per run. No join hints and
    no sizing in Python: AQE picks the verify joins from the stage sizes."""
    from html_parser_spark import cache

    corpus = _planted(spark)

    def run(fn):
        # own scope per run: a cache filled under one threshold would carry
        # its join choice into the other run
        with cache.scope(spark):
            df = _lsh_pairs(corpus, fn)
            rows = {tuple(r) for r in df.collect()}
            return rows, df._jdf.queryExecution().executedPlan().toString()

    thr_key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(thr_key)
    out = {fn: {"broadcast": run(fn)} for fn in LSH_OPS}
    try:
        spark.conf.set(thr_key, "-1")
        for fn in LSH_OPS:
            out[fn]["shuffle"] = run(fn)
    finally:
        spark.conf.set(thr_key, old)
    return out


def test_broadcast_verify_switch_identical_output(threshold_runs):
    """The shuffle-join verify shape (broadcasting disabled: co-partitioned
    joins, no driver-side candidate collect) returns exactly the rows the
    broadcast shape returns, for both operators."""
    for fn, runs in threshold_runs.items():
        rows_b, rows_s = runs["broadcast"][0], runs["shuffle"][0]
        assert rows_b == rows_s and len(rows_b) > 0, fn


def test_auto_verify_path_switches_on_threshold(threshold_runs):
    """The verify joins follow the session threshold on the executed plan:
    the default threshold broadcasts at fixture scale (>=2
    BroadcastHashJoin, no SortMergeJoin); with broadcasting disabled they
    shuffle (SortMergeJoin, no BroadcastHashJoin)."""
    for fn, runs in threshold_runs.items():
        plan_b, plan_s = runs["broadcast"][1], runs["shuffle"][1]
        assert plan_b.count("BroadcastHashJoin") >= 2, fn
        assert "SortMergeJoin" not in plan_b, fn
        assert "SortMergeJoin" in plan_s and "BroadcastHashJoin" not in plan_s, fn


@pytest.mark.parametrize("fn", LSH_OPS)
def test_default_construction_is_lazy(spark, fn):
    """Building the plan must not run ANY Spark job: a plan-only caller
    (build + explain, never execute) costs nothing and fills no cache."""
    corpus = _planted(spark)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    _lsh_pairs(corpus, fn).explain()
    assert dag.nextJobId() == before
