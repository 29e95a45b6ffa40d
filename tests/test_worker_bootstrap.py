"""The worker bootstrap (html_parser_spark/worker.py): a zipimporter
re-reads its archive on `importlib.invalidate_caches()` only when the
archive changed, and every Python entry point of the package runs it."""

from __future__ import annotations

import ast
import importlib
import os
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from html_parser_spark import worker

REPO = Path(__file__).resolve().parents[1]


def _write_zip(path: Path, modules: dict) -> None:
    """Write the archive beside `path` and move it into place, as a
    re-shipped --py-files zip arrives (a new file, not an in-place edit)."""
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "shipped.zip"
    _write_zip(archive, {"wb_mod_a.py": "A = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker._invalidate_if_changed
    )
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("wb_mod_a").A == 1
        imp = sys.path_importer_cache[str(archive)]
        assert isinstance(imp, zipimport.zipimporter)

        importlib.invalidate_caches()  # first call reads and stamps
        files = imp._files
        importlib.invalidate_caches()
        assert imp._files is files  # the second call re-read nothing

        _write_zip(archive, {"wb_mod_a.py": "A = 1\n", "wb_mod_b.py": "B = 2\n"})
        importlib.invalidate_caches()
        assert imp._files is not files  # a replaced archive is re-read
        assert importlib.import_module("wb_mod_b").B == 2
    finally:
        for name in ("wb_mod_a", "wb_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_bootstrap_never_patches_the_driver():
    original = zipimport.zipimporter.invalidate_caches
    worker.bootstrap()
    assert zipimport.zipimporter.invalidate_caches is original
    assert not worker._installed


def test_crossing_tasks_keep_their_archive_reads(spark):
    """After an extract_spans collect, a later mapInArrow task's
    `importlib.invalidate_caches()` leaves every zipimporter's directory
    dict in place. The probe may land in any reused worker, so it runs the
    bootstrap as every entry point does."""
    from html_parser_spark.operators.extract import INPUT_SCHEMA, extract_spans

    docs = [(f"d{i}", [("text", "<p>x</p>", None, 0)]) for i in range(4)]
    assert len(extract_spans(spark.createDataFrame(docs, INPUT_SCHEMA)).collect()) == 4

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        zips = [
            f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)
        ]
        before = [f._files for f in zips]
        importlib.invalidate_caches()
        kept = sum(f._files is b for f, b in zip(zips, before))
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"zips": [len(zips)], "kept": [kept]})

    rows = spark.range(8).mapInArrow(worker.on_worker(probe), "zips long, kept long").collect()
    if not any(r.zips for r in rows):
        pytest.skip("the workers import nothing from an archive")
    assert [r.kept for r in rows] == [r.zips for r in rows]


def _named(node, name: str) -> bool:
    f = node.func if isinstance(node, ast.Call) else node
    return (isinstance(f, ast.Name) and f.id == name) or (
        isinstance(f, ast.Attribute) and f.attr == name
    )


def test_every_worker_entry_point_runs_the_bootstrap():
    """Every `mapInArrow(` / `applyInPandasWithState(` call in the package
    passes `on_worker(fn)`, and every `pandas_udf` wraps an `on_worker`
    function (decorated just below it, or as its argument)."""
    sites, unwrapped = [], []
    for path in sorted((REPO / "html_parser_spark").rglob("*.py")):
        tree = ast.parse(path.read_text())
        decorated = set()
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            decs = fn.decorator_list
            for i, dec in enumerate(decs):
                if _named(dec, "pandas_udf"):
                    decorated.add(id(dec))
                    sites.append(f"{path.name}:{dec.lineno}")
                    if not any(_named(d, "on_worker") for d in decs[i + 1 :]):
                        unwrapped.append(f"{path.name}:{dec.lineno}")
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call) or id(call) in decorated:
                continue
            if _named(call, "mapInArrow") or _named(call, "applyInPandasWithState") or (
                _named(call, "pandas_udf") and call.args
            ):
                sites.append(f"{path.name}:{call.lineno}")
                if not (call.args and isinstance(call.args[0], ast.Call)
                        and _named(call.args[0], "on_worker")):
                    unwrapped.append(f"{path.name}:{call.lineno}")
    assert len(sites) == 6, sites  # 2 mapInArrow, 4 applyInPandasWithState
    assert not unwrapped, f"worker entry points without on_worker: {unwrapped}"
