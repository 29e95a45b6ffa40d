"""Kernel-vs-oracle equality: the fused parent-stack kernel must reproduce
the oracle's span sequence, status, and error code on every fixture and on a
large seeded corpus (the oracle itself is pinned to the reference bundle by
tests/test_oracle_vs_node.py)."""

from __future__ import annotations

import pytest

from html_parser_spark.core import oracle
from html_parser_spark.kernels.extract import extract_doc_spans, process_document_flat
from html_parser_spark.sources.fixtures import FIXTURES, synth_docs


@pytest.mark.parametrize(
    "fixture_id,category,html,expected_status",
    FIXTURES,
    ids=[f[0] for f in FIXTURES],
)
def test_kernel_matches_oracle_on_fixtures(fixture_id, category, html, expected_status):
    want = oracle.parse_and_extract(html)
    got_spans, got_status, got_error = extract_doc_spans(html)
    assert got_status == want.status == expected_status
    assert got_error == want.error
    if want.status == "ok":
        assert got_spans == want.spans


def test_kernel_matches_oracle_on_seeded_corpus():
    """2k seeded interleaved docs (incl. mega-doc skew rows), doc-level API."""
    n_checked = 0
    for doc_id, in_spans in synth_docs(2000, seed=7, mega_doc_rate=0.002):
        triples = [(k, t, m) for (k, t, m, _off) in in_spans]
        want_spans, want_status, want_error = oracle.process_document(triples)
        kinds = [s[0] for s in in_spans]
        texts = [s[1] for s in in_spans]
        mrefs = [s[2] for s in in_spans]
        fk, ft, fm = [], [], []
        n_sp, got_status, got_error, n_chars = process_document_flat(
            kinds, texts, mrefs, fk, ft, fm
        )
        assert got_status == want_status, doc_id
        assert got_error == want_error, doc_id
        assert n_sp == len(fk)
        got_tuples = [(k, t, m, i) for i, (k, t, m) in enumerate(zip(fk, ft, fm))]
        assert got_tuples == want_spans, doc_id
        assert n_chars == sum(len(t) for t in ft if t is not None), doc_id
        n_checked += 1
    assert n_checked == 2000


def test_kernel_error_ordering_tokenizer_wins():
    """The reference tokenizes fully BEFORE tree-building (htmlParser.ts:26-33):
    a late tokenizer error must beat an early tree error."""
    # '</p>' mismatch comes first in document order, but 'y/z' (not_data_mode)
    # is hit during tokenization, which runs first.
    html = "<div>x</p>y/z"
    want = oracle.parse_and_extract(html)
    _, status, error = extract_doc_spans(html)
    assert (status, error) == (want.status, want.error) == ("error", "not_data_mode")

    # late divergence beats early mismatch too
    html2 = "<div>x</p><"
    want2 = oracle.parse_and_extract(html2)
    _, status2, error2 = extract_doc_spans(html2)
    assert status2 == want2.status == "divergent"
    assert error2 == want2.error


def test_kernel_fast_path_equivalence():
    """Tag-free payloads take the single-token fast path — must equal oracle."""
    for s in ["hello world", "a", "", "word " * 1000, "中文 text", "{not interp}", "x{y"]:
        want = oracle.parse_and_extract(s)
        got_spans, got_status, _ = extract_doc_spans(s)
        assert got_status == want.status
        assert got_spans == want.spans


def test_kernel_deep_and_wide():
    d = 50_000
    spans, status, _ = extract_doc_spans("<d>" * d + "x" + "</d>" * d)
    assert status == "ok" and spans == [("text", "x", None)]
    spans, status, _ = extract_doc_spans("<p>a</p>" * 10_000)
    assert status == "ok" and len(spans) == 10_000
