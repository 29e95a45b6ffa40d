"""Main-content heuristics branch (kernels/heuristics.py): boilerplate
stripping fixtures. This branch is deliberately outside the reference-equality
contract (SURVEY.md §2.1) — these are its own goldens."""

from __future__ import annotations

from html_parser_spark.kernels.extract import process_document_flat
from html_parser_spark.kernels.heuristics import (
    extract_main_content,
    extract_main_spans,
    process_document_main,
)

ARTICLE = (
    '<div class="page">'
    "<header><h1>Site title</h1><nav><a href=x>Home</a><a href=y>About</a></nav></header>"
    '<div class="content">'
    "<p>the quick brown fox jumps over the lazy dog repeatedly today</p>"
    '<img src="hero.jpg"/>'
    "<p>a second long paragraph with plenty of words to keep around here</p>"
    "</div>"
    '<div class="sidebar"><ul><li><a href=a>link one word</a></li></ul></div>'
    "<footer><p>copyright notice boilerplate text footer</p></footer>"
    "</div>"
)


def texts(spans):
    return [t for k, t, _ in spans if k == "text"]


def media(spans):
    return [m for k, _, m in spans if k == "media"]


def test_article_keeps_body_drops_chrome():
    spans, status, err = extract_main_spans(ARTICLE)
    assert status == "ok" and err is None
    body = texts(spans)
    assert any("quick brown fox" in t for t in body)
    assert any("second long paragraph" in t for t in body)
    joined = " ".join(body)
    assert "Home" not in joined and "About" not in joined  # nav dropped
    assert "copyright" not in joined  # footer dropped
    assert "link one word" not in joined  # sidebar (negative class) dropped
    assert media(spans) == ["hero.jpg"]  # media inside content kept


def test_script_style_stripped():
    spans, status, _ = extract_main_spans(
        "<div><p>real content words live here now</p>"
        "<script>var boilerplate = 1;</script><style>.x{}</style></div>"
    )
    assert status == "ok"
    assert texts(spans) == ["real content words live here now"]


def test_link_density_drops_linkfarm():
    spans, _, _ = extract_main_spans(
        "<div><p><a href=a>one</a> <a href=b>two</a> <a href=c>three</a></p>"
        "<p>ordinary sentence with enough plain words to be content</p></div>"
    )
    joined = " ".join(texts(spans))
    assert "ordinary sentence" in joined
    assert "one" not in joined


def test_positive_class_protects_subtree():
    spans, _, _ = extract_main_spans(
        '<div class="article"><nav-ish></nav-ish>'
        '<div class="nav"><p>short but protected inside article zone</p></div></div>'
    )
    # class="nav" would normally drop, but ancestor class="article" protects
    assert any("protected" in t for t in texts(spans))


def test_low_text_density_markup_soup_dropped():
    spans, _, _ = extract_main_spans(
        "<div><p><b>w1</b> <b>w2</b> <b>w3</b> <b>w4</b></p>"
        "<p>a genuinely long sentence with <b>one</b> inline tag kept</p></div>"
    )
    joined = " ".join(texts(spans))
    assert "genuinely long sentence" in joined  # density 9/2 >= 2 kept
    assert "w1" not in joined  # density 4/5 < 2: tag soup dropped


def test_surrounded_short_block_rescued():
    spans, _, _ = extract_main_spans(
        "<div><p>first long content paragraph with many plain words</p>"
        "<p>hi</p>"
        "<p>third long content paragraph with many plain words</p></div>"
    )
    assert "hi" in texts(spans)


def test_errors_match_strict_status():
    _, status, err = extract_main_spans("<div>x</p>")
    assert (status, err) == ("error", "tag_mismatch")
    _, status, err = extract_main_spans("<p>a > b</p>")
    assert (status, err) == ("divergent", "divergent_nontermination")


def test_document_level_interleaving_and_order():
    out = extract_main_content(
        ["media", "text", "media"],
        [None, "<p>six plain words of body text</p>", None],
        ["a.pdf", None, "b.jpg"],
    )
    assert [(o["kind"], o["order"]) for o in out] == [
        ("media", 0),
        ("text", 1),
        ("media", 2),
    ]
    assert out[0]["media_ref"] == "a.pdf" and out[2]["media_ref"] == "b.jpg"


def test_failing_document_takes_the_strict_contract():
    """A failing text span rolls back this document's main-mode rows and
    hands the whole document to the strict kernel: the strict spans
    before the failing span (nav text included), its status and error,
    and their text length. Rows of earlier documents are kept."""
    kinds = ["text", "media", "text", "text"]
    texts = [
        "<nav>menu</nav><p>first words here now</p>",
        None,
        "<p>a > b</p>",
        "<p>good words arrive in this span</p>",
    ]
    mrefs = [None, "x.png", None, None]
    got_out = (["text"], ["earlier doc"], [None])
    want_out = (["text"], ["earlier doc"], [None])
    got = process_document_main(kinds, texts, mrefs, *got_out)
    want = process_document_flat(kinds, texts, mrefs, *want_out)
    assert got == want == (3, "divergent", "divergent_nontermination", 24)
    assert got_out == want_out == (
        ["text", "text", "text", "media"],
        ["earlier doc", "menu", "first words here now", None],
        [None, None, None, "x.png"],
    )
    assert [o["text"] for o in extract_main_content(kinds, texts, mrefs)] == [
        "menu", "first words here now", None,
    ]


def test_ok_main_document_is_tokenized_once(monkeypatch):
    """The extract worker in main mode drains an ok document once, through
    the heuristics: the strict kernel runs only for a failing document."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from html_parser_spark.kernels import extract as kext
    from html_parser_spark.kernels.extract import ExtractOptions
    from html_parser_spark.operators.extract import INPUT_SCHEMA, _arrow_kernel_factory

    calls = []
    strict = kext.extract_doc_spans

    def counted(html):
        calls.append(html)
        return strict(html)

    monkeypatch.setattr(kext, "extract_doc_spans", counted)
    kernel = _arrow_kernel_factory(ExtractOptions(mode="main"))

    def run(html):
        rows = [{"doc_id": "d", "spans": [
            {"kind": "text", "text": html, "media_ref": None, "offset": 0},
        ]}]
        batch = pa.RecordBatch.from_pylist(rows, schema=to_arrow_schema(INPUT_SCHEMA))
        return [b.to_pylist()[0] for b in kernel(iter([batch]))][0]

    row = run(ARTICLE)
    assert row["status"] == "ok" and row["n_text_chars"] > 0 and calls == []
    row = run("<p>a > b</p>")
    assert row["status"] == "divergent" and calls == ["<p>a > b</p>"]
