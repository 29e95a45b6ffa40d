"""Owner-scoped cache lifetimes (html_parser_spark/cache.py): library code
persists through `cache.persist`, the code that runs the action owns the
scope, and every intermediate persisted inside it is released when the scope
exits — no garbage-collector timing involved. A driver loop calling
jaccard_pairs / minhash_lsh_pairs per input slice must not accumulate cached
tables, and the composed registry queries must run their parse kernel once."""

from __future__ import annotations

import os
import pathlib
import re

import pytest

import __spark_entry__ as entrymod
from html_parser_spark import cache
from html_parser_spark.functions import dedup as DD
from tests.test_gate_oracles import SF_DIR

REPO = pathlib.Path(__file__).resolve().parent.parent


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _fresh(spark) -> set:
    """Close any scope a registry entry left open, drop stray caches, and
    return the persistent RDD ids that remain. Those are local checkpoints
    of earlier tests (Spark's ContextCleaner releases them, not a scope),
    so a released scope must leave exactly these behind."""
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
    assert _persistent_ids(spark) <= before, "scope exit must unpersist its RDDs"


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
    assert _persistent_ids(spark) <= before


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
    assert _persistent_ids(spark) <= before


def test_no_scope_caches_nothing(spark):
    """Outside a scope `cache.persist` is a no-op: an unowned cache would
    leak. Spark recomputes the same rows."""
    corpus = _corpus(spark)  # every pair shares 3 of 9 shingles: jacc 333
    with cache.scope(spark):
        want = sorted(DD.jaccard_pairs(corpus, threshold_permille=300).collect())
    before = _fresh(spark)
    got = sorted(DD.jaccard_pairs(corpus, threshold_permille=300).collect())
    assert _cache_empty(spark)
    assert _persistent_ids(spark) <= before
    assert got == want and len(got) == 190


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
    """`.persist(` / `.cache(` appear in the package and the registry only
    inside cache.py (callers write `cache.persist(`): every cache has an
    owner."""
    files = [*(REPO / "html_parser_spark").rglob("*.py"), REPO / "__spark_entry__.py"]
    direct = re.compile(r"(?<!\bcache)\.(?:persist|cache)\(")
    offenders = [
        str(p.relative_to(REPO))
        for p in files
        if p != REPO / "html_parser_spark" / "cache.py" and direct.search(p.read_text())
    ]
    assert not offenders, f"cache outside html_parser_spark/cache.py: {offenders}"
