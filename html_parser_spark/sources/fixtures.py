"""HTML fixture corpus (FIXTURES.md §2) + deterministic interleaved-doc synth.

The corpus pins every verified reference quirk (see core/oracle.py docstring).
Each fixture is (fixture_id, category, html, expected_status). Expected span
outputs are NOT stored — the oracle produces them; fixtures with
expected_status != 'divergent' are additionally cross-validated against the
reference's Node bundle in tests/test_oracle_vs_node.py.

``synth_docs`` builds the interleaved input table
(doc_id, spans: array<struct<kind,text,media_ref,offset>>) deterministically
from a seed — used for pipeline tests and the bench corpus (BASELINE.md:
"synthesized deterministically (seeded) at small sf").
"""

from __future__ import annotations

import random
from typing import Iterator, Optional

OK = "ok"
ERROR = "error"
DIVERGENT = "divergent"

# (fixture_id, category, html, expected_status)
FIXTURES: list[tuple[str, str, str, str]] = [
    ("nesting-1", "nesting", "<div><p>123123</p></div>", OK),
    ("nesting-2", "nesting", "<div><span><b>deep</b></span>mid</div>", OK),
    ("siblings-1", "siblings", '<div><p>a</p><img src="x.png"/>tail</div>', OK),
    ("void-1", "void_elements", "<img src='u.jpg' alt='hello' />", OK),
    ("void-2", "void_elements", "<div><br/><hr/></div>", OK),
    ("void-3", "void_elements", '<input type="checkbox" disabled/>', OK),
    ("media-1", "media_refs",
     '<img src="a.jpg"/><source src="b.mp4"/><embed src="c.swf"/><track src="d.vtt"/>', OK),
    ("media-2", "media_refs", '<div><img src="q.png"/>cap</div>', OK),
    ("media-3", "media_refs", "<img alt='nosrc'/>", OK),
    ("entity-1", "entities_preserved", "<p>&nbsp;&amp;x</p>", OK),
    ("entity-2", "entities_preserved", "<p>a &lt; b is not decoded</p>", OK),
    ("script-1", "script_style_not_special", "<script>var a = 1; if(a) a=2;</script>", OK),
    ("style-1", "script_style_not_special", "<style>.x{color:red}</style>", OK),
    ("case-1", "case_preserved", "<DIV><P>x</P></DIV>", OK),
    ("attr-1", "attr_quirks", '<div data-x="1" a="" h1="v">y</div>', OK),
    ("attr-2", "attr_quirks", "<a href=foo.html>x</a>", OK),
    ("attr-3", "attr_quirks", '<div class="a\nb">y</div>', OK),
    ("attr-4", "attr_quirks", "<img src=/>", OK),  # unquoted-empty -> value ''
    ("attr-5", "attr_quirks", "<div a='1' a='2'>dup</div>", OK),
    ("ws-1", "whitespace_text", " <div>a</div> ", OK),
    ("ws-2", "whitespace_text", "<div>a  </div>", OK),
    ("ws-3", "whitespace_text", "<div>\n  line\n</div>", OK),
    ("ws-4", "whitespace_text", "<div   class=\"a\" >x</div>", OK),
    ("ws-5", "whitespace_text", "<div>x</ div >", OK),
    ("uni-1", "unicode", "<div><![CDATA[<HelloWorld!>哈哈$#@!合法符号亲唇纹嗯]]</div><b>xxx</b>", OK),
    ("uni-2", "unicode", "<p>中文文本与 emoji 🎈</p>", OK),
    ("cmt-1", "comments", "<div><!-- hi -->x</div>", OK),
    ("cmt-2", "comments", "<div><!----></div>", OK),
    ("cmt-3", "comments_unclosed", "<div><!-- hi", OK),
    ("interp-1", "interpolation", "<div>{{ obj.a }}</div>", OK),
    ("interp-2", "interpolation", "{{ a.b }}text", OK),
    ("interp-3", "interpolation", "<p>pre{{ not interp }}</p>", OK),  # swallowed by text
    ("cdata-1", "cdata", "<div><![CDATA[raw ]] tail</div>", OK),
    ("deep-10", "deep_nesting", "<d>" * 10 + "x" + "</d>" * 10, OK),
    ("deep-100", "deep_nesting", "<d>" * 100 + "x" + "</d>" * 100, OK),
    ("deep-1000", "deep_nesting", "<d>" * 1000 + "x" + "</d>" * 1000, OK),
    ("deep-4000", "deep_nesting", "<d>" * 4000 + "x" + "</d>" * 4000, OK),
    ("wide-1000", "wide_siblings", "<p>a</p>" * 1000, OK),
    ("table-1", "nested_tables",
     '<table><tbody><tr><td colspan="7"><p><strong><span>head</span></strong></p></td></tr>'
     '<tr><td><p>c1</p></td><td><p>c2</p></td></tr></tbody></table>', OK),
    ("garbage-1", "garbage_lt_in_script", "<script>if(a<b)c()</script>", OK),
    ("eof-1", "unclosed_at_eof", "<div><p>abc", OK),
    ("slash-ok", "slash_quirk", "<p>ab/c</p>", OK),
    # --- error fixtures (reference throws) ---
    ("err-mismatch-1", "error_tag_mismatch", "<div>x</p>", ERROR),
    ("err-mismatch-2", "error_tag_mismatch", "<p>a<br>b</p>", ERROR),
    ("err-mismatch-3", "error_tag_mismatch", "</div>", ERROR),
    ("err-mismatch-4", "error_tag_mismatch", "<div>x</ di v ></div>", ERROR),
    ("err-selfclose-1", "error_illegal_self_close", "<div/>", ERROR),
    ("err-selfclose-2", "error_illegal_self_close", "<IMG src='x'/>", ERROR),
    ("err-slash-1", "error_not_data_mode", "<p>a/b</p>", ERROR),
    ("err-slash-2", "error_not_data_mode", "a/b", ERROR),
    ("err-cdata-1", "error_cdata_unclosed", "<div><![CDATA[abc</div>", ERROR),
    ("err-interp-1", "error_interp_unclosed", "{{ abc", ERROR),
    ("err-interp-2", "error_interp_unclosed", "{{ a\nb }}", ERROR),
    # --- divergent fixtures (reference hangs; engine must flag, not hang) ---
    ("div-gt-1", "divergent_gt_in_text", "<p>a > b</p>", DIVERGENT),
    ("div-cdata-1", "divergent_cdata_std", "<div><![CDATA[a<b]]></div>", DIVERGENT),
    ("div-lt-eof", "divergent_lt_eof", "<", DIVERGENT),
    ("div-doctype", "divergent_bang", "<!DOCTYPE html><p>x</p>", DIVERGENT),
    ("div-open-eof", "divergent_unclosed_tag", "<div", DIVERGENT),
    ("div-end-eof", "divergent_unclosed_end", "<div>x</div", DIVERGENT),
    ("div-lt-num", "divergent_lt_nonalpha", "<1a>", DIVERGENT),
    ("div-empty-tag", "divergent_empty_tag", "<>x", DIVERGENT),
]


# ---------------------------------------------------------------------------
# Deterministic interleaved-document synthesis (the bench/pipeline corpus)
# ---------------------------------------------------------------------------

_WORDS = (
    "spark arrow batch column vector span media doc parse tree token stack "
    "shuffle partition salt skew lineage snapshot commit resume metric "
    "content main boiler plate density link text heading table list item"
).split()

_TAGS = ("p", "span", "b", "i", "em", "strong", "li", "td", "h1", "h2")


def _rand_text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def _rand_html(rng: random.Random, target_words: int) -> str:
    """Seeded well-formed HTML (always status='ok') for throughput corpora."""
    parts: list[str] = []
    words = 0
    while words < target_words:
        r = rng.random()
        w = rng.randint(2, 12)
        txt = _rand_text(rng, w)
        words += w
        if r < 0.5:
            tag = rng.choice(_TAGS)
            parts.append(f"<{tag}>{txt}</{tag}>")
        elif r < 0.65:
            tag, inner = rng.choice(_TAGS), rng.choice(_TAGS)
            parts.append(f"<{tag}><{inner}>{txt}</{inner}></{tag}>")
        elif r < 0.75:
            parts.append(f'<img src="media://img/{rng.randint(0, 999999):06d}.jpg"/>')
        elif r < 0.85:
            parts.append(f"<!-- {txt} -->")
        else:
            parts.append(txt)
    return "<div>" + "".join(parts) + "</div>"


def synth_docs(
    n_docs: int,
    seed: int = 42,
    mega_doc_rate: float = 0.001,
    mega_doc_words: int = 200_000,
) -> Iterator[tuple[str, list[tuple[str, Optional[str], Optional[str], int]]]]:
    """Yield (doc_id, input_spans) rows: interleaved text+media spans
    (~4:1 mix, geometric span count 1..64), with mega-doc skew rows
    (FIXTURES.md §1) to exercise salted repartitioning.
    """
    rng = random.Random(seed)
    for i in range(n_docs):
        doc_id = f"doc-{i:012d}"
        spans: list[tuple[str, Optional[str], Optional[str], int]] = []
        if mega_doc_rate > 0 and rng.random() < mega_doc_rate:
            spans.append(("text", _rand_html(rng, mega_doc_words), None, 0))
        else:
            n_spans = min(64, 1 + int(rng.expovariate(1 / 6.0)))
            for off in range(n_spans):
                if rng.random() < 0.2:
                    ext = ".pdf" if rng.random() < 0.1 else ".jpg"
                    spans.append(
                        ("media", None, f"media://blob/{rng.randint(0, 10**9):09d}{ext}", off)
                    )
                else:
                    spans.append(("text", _rand_html(rng, rng.randint(5, 80)), None, off))
        yield doc_id, spans
