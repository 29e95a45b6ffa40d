"""PDF/layout branch: routing and the REAL pure-Python
PDF text extractor (core/pdf.py) — round-trip vs the synthesizer, hand-
crafted content streams, malformed input, and the Spark binary-column
path (operators/layout.parse_layout_payloads)."""

from __future__ import annotations

import pytest

from html_parser_spark.core.pdf import pdf_text_blocks, synth_pdf
from html_parser_spark.operators.extract import INPUT_SCHEMA, extract_spans
from html_parser_spark.operators.layout import (
    attach_pdf,
    parse_layout_payloads,
    route_media,
)


@pytest.fixture(scope="module")
def extracted(spark):
    rows = [
        ("d1", [
            {"kind": "media", "text": None, "media_ref": "s3://x/a.pdf", "offset": 0},
            {"kind": "text", "text": "<p>hello there</p>", "media_ref": None, "offset": 1},
            {"kind": "media", "text": None, "media_ref": "s3://x/b.jpg", "offset": 2},
        ]),
        ("d2", [
            {"kind": "media", "text": None, "media_ref": "s3://x/c.DOCX", "offset": 0},
            {"kind": "media", "text": None, "media_ref": "noextension", "offset": 1},
        ]),
    ]
    return extract_spans(spark.createDataFrame(rows, schema=INPUT_SCHEMA)).cache()


def test_routing(extracted):
    layout, passthrough = route_media(extracted)
    assert {r["media_ref"] for r in layout.collect()} == {"s3://x/a.pdf", "s3://x/c.DOCX"}
    assert {r["media_ref"] for r in passthrough.collect()} == {"s3://x/b.jpg", "noextension"}


def test_pdf_round_trip_both_filters():
    pages = [["first page title", "second block on page one"], ["page two body text"]]
    want = [
        (0, 0, "text", "first page title"),
        (0, 1, "text", "second block on page one"),
        (1, 2, "text", "page two body text"),
    ]
    for compress in (False, True):
        assert pdf_text_blocks(synth_pdf(pages, compress=compress)) == want


def test_pdf_string_escapes_round_trip():
    nasty = [["par(en)s and \\ backslash", "nested ((deep)) parens"], ["tab\tnl\nmix"]]
    got = pdf_text_blocks(synth_pdf(nasty, compress=True))
    assert [c for _p, _o, _k, c in got] == [b for page in nasty for b in page]


def test_pdf_handcrafted_stream_features():
    """Hex strings, the ' operator, XObject figures, /Contents arrays, and
    indirect /Length — features the synthesizer doesn't emit."""
    raw = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents [4 0 R 6 0 R] >>\nendobj\n"
        b"4 0 obj\n<< /Length 5 0 R >>\nstream\n"
        b"BT <68656c6c6f> Tj ET\n/Im1 Do\nendstream\nendobj\n"
        b"5 0 obj\n31\nendobj\n"
        b"6 0 obj\n<< /Length 26 >>\nstream\n"
        b"BT (line one) ' (x) Tj ET\nendstream\nendobj\n"
        b"trailer\n<< /Size 7 /Root 1 0 R >>\n"
    )
    assert pdf_text_blocks(raw) == [
        (0, 0, "text", "hello"),
        (0, 1, "figure", "Im1"),
        (0, 2, "text", "line onex"),
    ]


def test_pdf_round_trip_property():
    """Hypothesis fuzz: synth_pdf -> pdf_text_blocks recovers every block
    byte-for-byte for arbitrary latin-1 text (escapes, parens, newlines,
    control chars), any page/block structure, both filters."""
    from hypothesis import given, settings, strategies as st

    text = st.text(
        alphabet=st.characters(min_codepoint=1, max_codepoint=255),
        min_size=1,
        max_size=60,
    )
    pages = st.lists(st.lists(text, min_size=1, max_size=4), min_size=1, max_size=4)

    @settings(max_examples=120, deadline=None)
    @given(pages=pages, compress=st.booleans())
    def run(pages, compress):
        got = pdf_text_blocks(synth_pdf(pages, compress=compress))
        want = [b for page in pages for b in page]
        assert [c for _p, _o, k, c in got if k == "text"] == want
        # page indices ascend and block_order is the global running order
        assert [o for _p, o, _k, _c in got] == list(range(len(got)))
        assert [p for p, _o, _k, _c in got] == [
            i for i, page in enumerate(pages) for _ in page
        ]

    run()


def test_pdf_malformed_inputs_never_raise():
    for bad in (b"", b"not a pdf", b"%PDF-1.4\ngarbage", b"%PDF-1.4\n1 0 obj\nstream\n"):
        assert pdf_text_blocks(bad) == []


def test_spark_payload_path_round_trips(spark):
    """End-to-end binary-column path: synthesize PDFs per doc, extract with
    the real kernel, recover title/body blocks exactly."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "one two three four")],
        "doc_id long, text string",
    )
    rows = parse_layout_payloads(attach_pdf(docs)).collect()
    got = {(r["doc_id"], r["page"]): r for r in rows}
    assert got[("1", 0)]["content"] == "alpha beta gamma"
    assert got[("1", 1)]["content"] == "alpha beta gamma delta epsilon"
    assert got[("2", 0)]["content"] == "one two three"
    assert got[("2", 1)]["content"] == "one two three four"
    assert all(r["block_kind"] == "text" for r in rows)
    assert {r["media_ref"] for r in rows} == {"synth://1.pdf", "synth://2.pdf"}

def test_pdf_inline_dict_not_misread_as_hex():
    """A '<< .. >>' dict inside a content stream (marked-content BDC etc.)
    must be SKIPPED, not parsed as a hex string whose bogus operand a later
    Tj could emit. (The pre-fix token regex <[^<] could only fire on the
    second '<' of '<<', so the dict guard was dead and '<' + '/MCID...'
    became a phantom hex operand.)"""
    raw = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 62 >>\nstream\n"
        b"/P << /MCID 0 >> BDC\nBT (real) Tj ET\nEMC\n"
        b"BT <20> Tj ET\nendstream\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n"
    )
    assert pdf_text_blocks(raw) == [(0, 0, "text", "real"), (0, 1, "text", " ")]


def test_pdf_synth_total_over_non_latin1_text():
    """synth_pdf must never raise inside an executor kernel: non-latin-1
    characters degrade to '?' (errors='replace'), round-tripping as such."""
    got = pdf_text_blocks(synth_pdf([["café 中文 ok"]]))
    assert got == [(0, 0, "text", "café ?? ok")]


def test_pdf15_objstm_roundtrip_and_load_bearing():
    from html_parser_spark.core.pdf import pdf_text_blocks, synth_pdf

    pages = [["alpha title"], ["the body text of the page", "second block"]]
    for compress in (False, True):
        assert pdf_text_blocks(
            synth_pdf(pages, compress=compress, objstm=True)
        ) == pdf_text_blocks(synth_pdf(pages, compress=compress))
    p15 = synth_pdf(pages, compress=True, objstm=True)
    assert p15.startswith(b"%PDF-1.5")
    assert b"/Type /ObjStm" in p15 and b"/Type /XRef" in p15
    # load-bearing: the catalog/page tree exist ONLY inside the object
    # stream — a reader without ObjStm expansion finds no pages at all
    assert b"/Type /Catalog" not in p15
    assert b"/Type /Pages" not in p15


def test_pdf15_objstm_degrades_never_raises():
    from html_parser_spark.core.pdf import pdf_text_blocks, synth_pdf

    p15 = synth_pdf([["x"], ["y z"]], compress=True, objstm=True)
    for cut in range(0, len(p15), 41):
        pdf_text_blocks(p15[:cut])  # must not raise
    # corrupt the compressed ObjStm payload: zero blocks, no exception
    i = p15.index(b"/Type /ObjStm")
    j = p15.index(b"stream\n", i) + 7
    broken = p15[:j] + b"\x00\x00\x00\x00" + p15[j + 4 :]
    assert pdf_text_blocks(broken) == []
