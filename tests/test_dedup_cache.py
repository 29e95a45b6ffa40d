"""Owner-scoped lifetimes (html_parser_spark/cache.py): library code
persists through `cache.persist` and truncates lineage through
`cache.checkpoint`, the code that runs the action owns the scope, and every
intermediate held inside it is released when the scope exits — no
garbage-collector timing involved. A driver loop calling jaccard_pairs /
minhash_lsh_pairs per input slice must not accumulate cached tables, an
iterative operator holds one round at a time, and the composed registry
queries must run their parse kernel once."""

from __future__ import annotations

import os
import pathlib
import re

import pytest

import __spark_entry__ as entrymod
from html_parser_spark import cache
from html_parser_spark.functions import bpe as B
from html_parser_spark.functions import dedup as DD
from tests.test_gate_oracles import SF_DIR

REPO = pathlib.Path(__file__).resolve().parent.parent


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _fresh(spark) -> set:
    """Close any scope a registry entry left open, drop stray caches, and
    return the persistent RDD ids that remain, which a released scope must
    leave exactly as they are."""
    with cache.scope(spark):
        pass
    spark.catalog.clearCache()
    return _persistent_ids(spark)


def _corpus(spark):
    rows = [(i, f"alpha beta gamma delta epsilon w{i} zeta eta", "s") for i in range(20)]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_jaccard_cache_released_on_scope_exit(spark):
    before = _fresh(spark)
    with cache.scope(spark):
        pairs = DD.jaccard_pairs(_corpus(spark), threshold_permille=500)
        pairs.count()
        assert not _cache_empty(spark), "shingle table should be cached during use"
        assert _persistent_ids(spark) - before, "cached rows should be materialized"
    assert _cache_empty(spark), "scope exit must drop the cache entry"
    assert _persistent_ids(spark) == before, "scope exit must unpersist its RDDs"


def test_same_plan_twins_cached_until_scope_exit(spark):
    """Spark's CacheManager keys entries by ANALYZED PLAN: two pipelines over
    the same input persist ONE shared entry. Both live in the same scope, so
    neither can uncache the other; both read the cache until the scope exits
    (the old per-object release showed this bug as extract_links re-running
    its parse kernel 3x after a sibling query's result died)."""
    before = _fresh(spark)
    corpus = _corpus(spark)
    with cache.scope(spark):
        a = DD.jaccard_pairs(corpus, threshold_permille=500)
        b = DD.jaccard_pairs(corpus, threshold_permille=500)  # same plan
        assert a.count() == b.count()
        for df in (a, b):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan
        assert not _cache_empty(spark), "twins must stay cached inside the scope"
    assert _cache_empty(spark), "scope exit must release the shared entry"
    assert _persistent_ids(spark) == before


def test_minhash_lsh_cache_released_in_loop(spark):
    before = _fresh(spark)
    corpus = _corpus(spark)
    held = []
    for _ in range(3):  # driver-loop shape: one scope per iteration
        with cache.scope(spark):
            DD.minhash_lsh_pairs(corpus, threshold_permille=500).count()
            held.append(len(_persistent_ids(spark) - before))
    assert held[0] > 0 and held == [held[0]] * 3, f"caches accumulate: {held}"
    assert _cache_empty(spark), "repeated calls must not accumulate cached tables"
    assert _persistent_ids(spark) == before


def test_no_scope_caches_nothing(spark):
    """Outside a scope `cache.persist` is a no-op: an unowned cache would
    leak. Spark recomputes the same rows."""
    corpus = _corpus(spark)  # every pair shares 3 of 9 shingles: jacc 333
    with cache.scope(spark):
        want = sorted(DD.jaccard_pairs(corpus, threshold_permille=300).collect())
    before = _fresh(spark)
    got = sorted(DD.jaccard_pairs(corpus, threshold_permille=300).collect())
    assert _cache_empty(spark)
    assert _persistent_ids(spark) == before
    assert got == want and len(got) == 190


def _checkpoint_rdd_id(df) -> int:
    return df._jdf.queryExecution().logical().rdd().id()


def test_checkpoint_needs_a_scope(spark):
    """A checkpoint's truncation is not optional, so with no owner to
    release it `cache.checkpoint` raises instead of leaving it to the GC."""
    _fresh(spark)
    with pytest.raises(RuntimeError, match="cache.scope"):
        cache.checkpoint(spark.range(3))


def test_release_frees_a_held_checkpoint(spark):
    before = _fresh(spark)
    with cache.scope(spark):
        df = cache.checkpoint(spark.range(5))
        assert _persistent_ids(spark) - before == {_checkpoint_rdd_id(df)}
        cache.release(spark.range(5))  # not held: left alone
        assert _persistent_ids(spark) - before == {_checkpoint_rdd_id(df)}
        cache.release(df)
        assert _persistent_ids(spark) == before
        with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
            df.collect()  # a read after release fails, never returns rows
    assert _persistent_ids(spark) == before


def test_loops_hold_one_round(spark):
    """connected_components and bpe_train release each round once the next
    is materialised: on return exactly one of their checkpoints is live
    (bpe_train's is the word table it returns), and the scope exit frees it."""
    before = _fresh(spark)
    chain = [(i + 1, i) for i in range(40)]  # several star rounds
    with cache.scope(spark):
        DD.connected_components(
            spark.createDataFrame(chain, "doc_a long, doc_b long")
        ).collect()
        assert len(_persistent_ids(spark) - before) == 1
    assert _persistent_ids(spark) == before
    with cache.scope(spark):
        _merges, words = B.bpe_train(_corpus(spark), n_merges=6)
        assert _persistent_ids(spark) - before == {_checkpoint_rdd_id(words)}
        assert words.count() > 0
    assert _persistent_ids(spark) == before


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata unavailable"
)
def test_registry_scope_exit_leaves_nothing(spark):
    """The queries whose operators checkpoint (BPE training, connected
    components) leave no persistent RDD once their entry's scope closes."""
    before = _fresh(spark)
    names = [
        "text_bpe_vocab",
        "text_bpe_tokens",
        "corpus_pack_bpe",
        "pipeline_extract_bpe",
        "dedup_clusters",
    ]
    for name in names:
        assert entrymod.queries()[name](spark, SF_DIR).collect()
        with cache.scope(spark):
            pass
        assert _persistent_ids(spark) == before, name


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _plan_nodes(plan, seen: set):
    """Every node of an executed plan once: through adaptive plans, query
    stages, subqueries and the plan cached behind each InMemoryTableScan."""
    if plan.id() in seen:
        return
    seen.add(plan.id())
    yield plan
    kids = _seq(plan.children()) + _seq(plan.subqueries())
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        kids.append(plan.executedPlan())
    elif kind.endswith("QueryStageExec"):
        kids.append(plan.plan())
    elif kind == "InMemoryTableScanExec":
        kids.append(plan.relation().cachedPlan())
    for k in kids:
        yield from _plan_nodes(k, seen)


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata unavailable"
)
@pytest.mark.parametrize("name", ["web_anchor_text", "graph_domain_pagerank"])
def test_parse_kernel_runs_once_per_registry_call(spark, name):
    """The composed queries read the extract_links parse cache from several
    consumer branches; with the entry's scope open the kernel's Python
    crossing receives each document exactly once."""
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.collect()
    received = [
        n.metrics().apply("pythonNumRowsReceived").value()
        for n in _plan_nodes(df._jdf.queryExecution().executedPlan(), set())
        if n.nodeName() == "MapInArrow"
    ]
    assert sum(received) == n_docs, f"parse kernel rows {received} vs {n_docs} docs"


def test_one_cache_site():
    """`.persist(` / `.cache(` / `localCheckpoint(` appear in the package,
    the registry, bench.py, jobs/ and tools/ only inside cache.py (callers
    write `cache.persist(` / `cache.checkpoint(`): every materialised
    intermediate has an owner."""
    files = [
        *(REPO / "html_parser_spark").rglob("*.py"),
        REPO / "__spark_entry__.py",
        *(REPO / "registry").rglob("*.py"),
        REPO / "bench.py",
        *(REPO / "jobs").glob("*.py"),
        *(REPO / "tools").glob("*.py"),
    ]
    direct = re.compile(r"(?<!\bcache)\.(?:persist|cache)\(|localCheckpoint\(")
    offenders = [
        str(p.relative_to(REPO))
        for p in files
        if p != REPO / "html_parser_spark" / "cache.py" and direct.search(p.read_text())
    ]
    assert not offenders, f"cache outside html_parser_spark/cache.py: {offenders}"
