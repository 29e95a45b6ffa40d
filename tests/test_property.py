"""Property-based fuzzing (hypothesis): on ARBITRARY inputs the kernel must
agree with the oracle byte-for-byte — same status taxonomy (ok / error /
divergent), same spans, same serialization — and must terminate (the
reference hangs on some inputs; we classify them instead).

Two generators:
  - adversarial soup: strings over the tokenizer's alphabet of significant
    characters (hits every FSM branch: tags, comments, CDATA, interpolation,
    the '/'-second-char quirk, '>'-in-text divergence, EOF edges)
  - structured documents: recursively generated nested/void/attributed HTML,
    with an arm that closes a different tag than it opened
"""

from __future__ import annotations

import sys

from hypothesis import given, settings, strategies as st

from html_parser_spark.core import oracle
from html_parser_spark.kernels.extract import extract_doc_spans
from html_parser_spark.operators.parse import parse_one
from html_parser_spark.operators.serialize import serialize_one

sys.setrecursionlimit(100_000)

# U+00A0 and U+FEFF are JS \s whitespace (Python's \s lacks U+FEFF)
SOUP_ALPHABET = "<>/!{}-= \"'abPdiv[]CDATA&;汉🎈\n\t.\u00a0\ufeff"

soup = st.text(alphabet=SOUP_ALPHABET, min_size=0, max_size=60)

tag_names = st.sampled_from(["div", "p", "span", "b", "DIV", "table", "li"])
void_tags = st.sampled_from(["img", "br", "hr", "input", "source"])
attr = st.sampled_from(
    ['', ' a="1"', " href=x", ' src="u.png"', " data-k='v'", ' x=""', " disabled"]
)
texts = st.text(alphabet="abc 汉&;", min_size=0, max_size=12)


@st.composite
def html_doc(draw, depth=0):
    parts = []
    for _ in range(draw(st.integers(0, 3))):
        kind = draw(st.integers(0, 6))
        if kind == 0:
            parts.append(draw(texts))
        elif kind == 1:
            t = draw(tag_names)
            inner = draw(html_doc(depth=depth + 1)) if depth < 3 else draw(texts)
            parts.append(f"<{t}{draw(attr)}>{inner}</{t}>")
        elif kind == 2:
            parts.append(f"<{draw(void_tags)}{draw(attr)}/>")
        elif kind == 3:
            parts.append(f"<!-- {draw(texts)} -->")
        elif kind == 4:
            parts.append(f"<![CDATA[{draw(texts)}]]")
        elif kind == 5:
            parts.append("{{ expr }}")
        else:  # a tag mismatch: close a different tag than the one opened
            t, u = draw(st.lists(tag_names, min_size=2, max_size=2, unique=True))
            parts.append(f"<{t}>{draw(texts)}</{u}>")
    return "".join(parts)


def oracle_result(html):
    res = oracle.parse_and_extract(html)
    return res.status, res.error, res.spans


@settings(max_examples=300, deadline=None)
@given(soup)
def test_soup_kernel_equals_oracle(html):
    want_status, want_error, want_spans = oracle_result(html)
    spans, status, error = extract_doc_spans(html)
    assert (status, error) == (want_status, want_error), repr(html)
    if status == "ok":
        assert spans == want_spans, repr(html)


@settings(max_examples=200, deadline=None)
@given(html_doc())
def test_structured_kernel_equals_oracle(html):
    want_status, want_error, want_spans = oracle_result(html)
    spans, status, error = extract_doc_spans(html)
    assert (status, error) == (want_status, want_error), repr(html)
    if status == "ok":
        assert spans == want_spans, repr(html)


@settings(max_examples=200, deadline=None)
@given(html_doc())
def test_serialize_equals_oracle_generate(html):
    try:
        want = oracle.generate(oracle.parse_html(html))
        want_status = "ok"
    except oracle.Divergence:
        want, want_status = None, "divergent"
    except oracle.ParseError:
        want, want_status = None, "error"
    got, status, _ = serialize_one(html)
    assert status == want_status, repr(html)
    if status == "ok":
        assert got == want, repr(html)


@settings(max_examples=200, deadline=None)
@given(html_doc())
def test_parse_nodes_roundtrip_document_order(html):
    nodes, status, _ = parse_one(html)
    want_status, _, _ = oracle_result(html)
    assert status == want_status, repr(html)
    if status == "ok":
        ids = [n["id"] for n in nodes]
        assert ids == sorted(ids) and len(set(ids)) == len(ids), repr(html)


@settings(max_examples=300, deadline=None)
@given(st.one_of(soup, html_doc()))
def test_parse_flat_equals_dict_fuzz(html):
    """parse_one_flat (the parse kernel's tuple form, running on the
    kernel's token records) must agree with parse_one (oracle.tokenize
    dict form) on ARBITRARY inputs — statuses, node rows, attrs, the
    [raw, inner] interpolation pair, and None on failure (html_doc's
    mismatch arm reaches the tag-mismatch exit)."""
    from tests.test_kernel_edges import _flat_rows

    assert _flat_rows(html) == parse_one(html), repr(html)


# interleaved-document generator: a mix of media spans (possibly null refs)
# and text spans of adversarial soup / structured HTML
_in_span = st.one_of(
    st.tuples(st.just("media"), st.none(), st.one_of(st.none(), st.text(max_size=8))),
    st.tuples(st.just("text"), st.one_of(st.none(), soup, html_doc()), st.none()),
)
_in_doc = st.lists(_in_span, min_size=0, max_size=5)


@settings(max_examples=300, deadline=None)
@given(_in_doc)
def test_flat_kernel_equals_dict_kernel(spans):
    """process_document_flat (the mapInArrow crossing's form) must agree with
    core/oracle.process_document on arbitrary interleaved documents: same
    spans in the same order, same status/error, and n_chars equal to the
    total text length of the spans it kept. Main mode's row function,
    process_document_main, keeps the strict status, error and n_chars;
    its spans are the strict ones on a failing document and, on an ok one,
    the per-span extract_main_spans composition (media passes through)."""
    from html_parser_spark.kernels.extract import process_document_flat
    from html_parser_spark.kernels.heuristics import (
        extract_main_spans,
        process_document_main,
    )

    kinds = [k for k, _, _ in spans]
    texts = [t for _, t, _ in spans]
    mrefs = [m for _, _, m in spans]
    want_spans, want_status, want_error = oracle.process_document(spans)
    want_chars = sum(len(t) for _k, t, _m, _o in want_spans if t is not None)
    fk, ft, fm = [], [], []
    n_sp, status, error, n_chars = process_document_flat(kinds, texts, mrefs, fk, ft, fm)
    assert (status, error) == (want_status, want_error)
    assert n_sp == len(want_spans) == len(fk)
    got = [(k, t, m, i) for i, (k, t, m) in enumerate(zip(fk, ft, fm))]
    assert got == want_spans
    assert n_chars == sum(len(t) for t in ft if t is not None) == want_chars

    if want_status == "ok":
        main = []
        for k, t, m in spans:
            main += [(k, t, m)] if k == "media" else extract_main_spans(t or "")[0]
        want_spans = [(k, t, m, i) for i, (k, t, m) in enumerate(main)]
    mk, mt, mm = [], [], []
    n_sp, status, error, n_chars = process_document_main(kinds, texts, mrefs, mk, mt, mm)
    assert (status, error, n_chars) == (want_status, want_error, want_chars)
    assert n_sp == len(want_spans) == len(mk)
    assert [(k, t, m, i) for i, (k, t, m) in enumerate(zip(mk, mt, mm))] == want_spans
