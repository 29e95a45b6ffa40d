"""Every option has a caller: each optional parameter of a public top-level
function in the package is passed, by keyword or by position, at some call
of the same name in the repo. An option no call site sets has one value in
use, and that value belongs in the body as a constant. No Spark."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "html_parser_spark"
# Deployment settings (triggers, sinks) and the reference-parity anchor,
# whose signatures mirror the reference bundle, are out of scope.
EXEMPT = (PACKAGE / "streaming",)
EXEMPT_FILES = {PACKAGE / "core" / f for f in ("oracle.py", "diff.py", "jsre.py")}
CALLERS = ("html_parser_spark", "registry", "jobs", "tools", "tests", "perfbench")


def _caller_files():
    for d in CALLERS:
        yield from sorted((REPO / d).rglob("*.py"))
    yield REPO / "bench.py"


def _in_scope(path: Path) -> bool:
    return path not in EXEMPT_FILES and not any(e in path.parents for e in EXEMPT)


def options():
    """{(module path, function name): [(option, positional index or None)]}
    for every public top-level function in scope."""
    out = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        if not _in_scope(path):
            continue
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            a = fn.args
            positional = a.posonlyargs + a.args
            first = len(positional) - len(a.defaults)
            opts = [(p.arg, i) for i, p in enumerate(positional) if i >= first]
            opts += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            if opts:
                out[(path.relative_to(REPO).as_posix(), fn.name)] = opts
    return out


def _set_by_calls():
    """(keywords passed, widest positional count) per called name, over every
    call in the callers; a `*args` or `**kwargs` splat counts as setting all."""
    keywords, width = defaultdict(set), defaultdict(int)
    for path in _caller_files():
        for call in ast.walk(ast.parse(path.read_text())):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            splat = any(isinstance(x, ast.Starred) for x in call.args)
            width[name] = max(width[name], float("inf") if splat else len(call.args))
            keywords[name] |= {k.arg or "**" for k in call.keywords}
    return keywords, width


def unset_options():
    keywords, width = _set_by_calls()
    missing = []
    for (path, name), opts in options().items():
        for opt, idx in opts:
            kws = keywords[name]
            if opt in kws or "**" in kws or (idx is not None and idx < width[name]):
                continue
            missing.append(f"{path}:{name}({opt}=)")
    return missing


def test_every_option_is_set_by_some_call_site():
    assert options(), "the audit found no public functions"
    missing = unset_options()
    assert not missing, f"{len(missing)} options no call site sets: {missing}"
