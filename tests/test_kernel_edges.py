"""Seeded edge-case differential test: the two-level kernel against the
oracle on strings built from pieces that the hypothesis soup alphabet
rarely or never produces (JS-only whitespace, comment and end-tag edges,
brace edges, doctype / processing-instruction openers, case-sensitive void
tags). Runs the scanner at its default split chunk and with the chunk
shrunk to 1 and to 7 chars (every cut lands just after a '>'). The corpus
must send documents down both the split path and the TOKEN_RE fallback,
each in volume.

Also pins the memory bound on a mega-doc, on both paths, the error
precedence of every tokenizer consumer, and that TOKEN_RE has one drain.
"""

from __future__ import annotations

import ast
import random
import re
import tracemalloc
from pathlib import Path

import pytest

from html_parser_spark.core import oracle
from html_parser_spark.kernels import extract as kext
from html_parser_spark.kernels.heuristics import extract_main_spans
from html_parser_spark.operators.parse import NODE_STRUCT, parse_one, parse_one_flat
from html_parser_spark.operators.serialize import serialize_one

EDGE_PIECES = (
    # JS \s whitespace, spelled out in core/jsre (Python's \s lacks U+FEFF)
    "\u00a0", "\ufeff", "\u2028", "<p\u00a0class=x>", "</p\ufeff>", "{{\u2028a }}",
    # comment edges: the '-->' search starts 4 chars in
    "<!-->", "<!--->", "<!---->", "<!-- c -->", "-->",
    # tag-name and end-tag edges
    "<a<b>", "</ a b>", "</>", "</ >", "</a/>", "<a/", "</a", "<1", "<",
    # brace edges
    "{/", "{", "{{", "{{ x }}", "}}", "{{a\nb}}",
    # other openers and case-sensitive void tags
    "<!DOCTYPE html>", "<?xml?>", "a/", "ab/c", "<IMG/>", "<source src='s'/>",
    "<img src=\"i\">", "<embed src=e/>", "<img src=x//>", "<br />", "<a/b>",
    "<![CDATA[x]]", "<![CDATA[",
    # benign filler so a good share of strings parse
    "<a>", "</a>", "<b>", "</b>", "<p>", "</p>", "x", "ab", " ", "\n",
)
N_CASES = 50_000


def _cases() -> list[str]:
    rng = random.Random(20260417)
    return [
        "".join(rng.choice(EDGE_PIECES) for _ in range(rng.randint(0, 8)))
        for _ in range(N_CASES)
    ]


def _flat_rows(html: str):
    """parse_one_flat in parse_one's dict form: (rows | None, status, error),
    each tuple row checked for NODE_STRUCT's arity."""
    nodes, status, error = parse_one_flat(html)
    if nodes is None:
        return None, status, error
    names = NODE_STRUCT.fieldNames()
    rows = []
    for n in nodes:
        assert len(n) == len(names), repr(html)
        row = dict(zip(names, n))
        if row["attrs"] is not None:
            row["attrs"] = [{"name": nm, "value": v} for nm, v in row["attrs"]]
        rows.append(row)
    return rows, status, error


@pytest.fixture(params=["default", "split1", "split7"])
def drain(request, monkeypatch):
    if request.param.startswith("split"):
        monkeypatch.setattr(kext, "_SPLIT_CHUNK_CHARS", int(request.param[5:]))
    return request.param


@pytest.fixture
def paths(monkeypatch):
    """Counts the documents each scan level returns."""
    counts = {"split": 0, "token": 0}
    split_scan, token_scan = kext._split_scan, kext._token_scan

    def counted_split(html):
        out = split_scan(html)
        counts["split"] += out is not None
        return out

    def counted_token(html):
        counts["token"] += 1
        return token_scan(html)

    monkeypatch.setattr(kext, "_split_scan", counted_split)
    monkeypatch.setattr(kext, "_token_scan", counted_token)
    return counts


def test_edge_pieces_kernel_equals_oracle(drain, paths):
    statuses = {"ok": 0, "error": 0, "divergent": 0}
    for html in _cases():
        want = oracle.parse_and_extract(html)
        spans, status, error = kext.extract_doc_spans(html)
        assert (status, error) == (want.status, want.error), repr(html)
        assert spans == want.spans, repr(html)
        statuses[status] += 1
    # every outcome class and both scan levels are exercised in volume
    assert min(statuses.values()) > N_CASES // 20, statuses
    assert min(paths.values()) > N_CASES // 20, paths


def test_edge_pieces_parse_flat_equals_oracle_form():
    for html in _cases()[: N_CASES // 2]:
        assert _flat_rows(html) == parse_one(html), repr(html)


def _mega_doc() -> str:
    block = "".join(
        f"<ul><li><a href=x>item {i}</a></li><li>b</li></ul>"
        f"<table><tr><td><p>cell {i}</p></td><td>c</td></tr></table>"
        for i in range(60)
    )
    html = "<div>" + block * 150 + "</div>"
    assert len(html) > 900_000
    return html


def test_mega_doc_streams_in_bounded_memory(paths):
    """A ~1 MB list/table document must not hold all its pieces at once:
    the traced peak stays under twice the size of the returned spans."""
    _assert_bounded(_mega_doc())
    assert paths == {"split": 1, "token": 0}


def test_mega_doc_fallback_streams_in_bounded_memory(paths, monkeypatch):
    """The same bound on the TOKEN_RE path, which streams its tokens."""
    monkeypatch.setattr(kext, "_split_scan", lambda html: None)
    _assert_bounded(_mega_doc())
    assert paths["token"] == 1


def _assert_bounded(html: str) -> None:
    tracemalloc.start()
    try:
        spans, status, _ = kext.extract_doc_spans(html)
        retained, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert status == "ok" and len(spans) > 30_000
    assert peak < 2 * retained, (peak, retained)


@pytest.mark.parametrize(
    "consumer",
    [kext.extract_doc_spans, parse_one_flat, serialize_one, extract_main_spans],
    ids=lambda f: f.__name__,
)
@pytest.mark.parametrize(
    "html",
    ["<div></p><![CDATA[x", "<div></p><br/ >x<b/>", "<a></b>x</a", "<p></i> a > b"],
)
def test_tokenizer_failure_outranks_earlier_mismatch(consumer, html):
    """The reference tokenizes the whole source before it builds the tree,
    so a tokenizer failure after a tag mismatch is the error every
    consumer reports."""
    want = oracle.parse_and_extract(html)
    assert consumer(html)[1:] == (want.status, want.error)


def test_one_token_re_drain():
    """`TOKEN_RE.` (finditer, findall, match, ...) is used only inside
    kernels/extract._tokens, and the package has no second drain or code
    set."""

    def uses(node):
        return sum(
            isinstance(n, ast.Attribute)
            and isinstance(n.value, ast.Name)
            and n.value.id == "TOKEN_RE"
            for n in ast.walk(node)
        )

    total = inside = 0
    for path in Path(kext.__file__).parents[1].rglob("*.py"):
        src = path.read_text()
        assert "_tokenize_arrays" not in src and not re.search(r"\b_P_[A-Z]", src), path
        tree = ast.parse(src)
        total += uses(tree)
        if path.name == "extract.py":
            inside += sum(
                uses(fn)
                for fn in ast.walk(tree)
                if isinstance(fn, ast.FunctionDef) and fn.name == "_tokens"
            )
    assert total == inside == 1, (total, inside)
