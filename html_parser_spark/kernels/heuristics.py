"""Main-content extraction heuristics (the flag-gated 'main' branch).

Boilerplate stripping over the parsed token stream, à la Readability /
Boilerpipe (Kohlschütter et al., WSDM 2010): tag-based subtree pruning,
class/id token scoring, then block-level text-density + link-density
classification. Runs entirely inside the extraction kernel (no extra
JVM<->Python crossing): it walks the strict kernel's token records,
``kernels.extract._tokens`` (one TOKEN_RE drain; each distinct tag's
name, media span and attrs decoded once by the shared tag memo), with a
scored walk (``_main_walk``) instead of the strict span walk. Main
mode's row function, ``process_document_main``, tokenizes an ok document
once and hands a failing one whole to the strict kernel.

The main-content spans of an ok document are NOT covered by the
reference-equality contract (the reference has no main-content notion —
SURVEY.md §2.1 'extraction semantics'); they are a deterministic,
documented heuristic validated by its own fixture tests
(tests/test_heuristics.py).

Pipeline per text span:
  1. tokenize: one ``list(_tokens(html))`` drain, attrs included;
  2. subtree prune: drop everything under STRIP_TAGS (script/style/template/
     noscript/iframe/svg) and BOILERPLATE_TAGS (nav/header/footer/aside/form/
     ... — unconditionally: semantic chrome tags are chrome wherever they
     sit), plus any element whose class/id matches NEGATIVE_RE unless an
     ancestor matched POSITIVE_RE (article/main/content containers protect
     their subtree against class-based, not tag-based, dropping);
  3. block segmentation: text accumulates into the nearest enclosing
     BLOCK_TAGS element (div/p/td/li/h1..h6/...);
  4. block classification: a block is content iff
        link_density <= MAX_LINK_DENSITY  and  n_words >= MIN_BLOCK_WORDS
        and text_density >= MIN_TEXT_DENSITY,
     where link_density = words under <a> / words and text_density =
     words / (1 + inline tags opened inside the block) — low text density
     flags markup-soup blocks (tag-cluttered navigation/widgets) even when
     they carry no links; a neighbourhood rescue keeps short low-link blocks
     that have ANY content block before them and whose nearest following
     non-empty block is content (Boilerpipe's 'surrounded' rule with a
     prefix-relaxed left side; O(n) via precomputed prefix/suffix flags);
  5. media spans inside kept blocks are kept; input-level media spans always
     pass through (they are outside any HTML).
"""

from __future__ import annotations

import re
from typing import Any, Optional

from .extract import _Fail, _T_END, _T_OPEN, _T_TEXT, _T_VOID, _tokens, process_document_flat
from ..core.oracle import E_TAG_MISMATCH, STATUS_ERROR, STATUS_OK

# Subtrees that never contain main content.
STRIP_TAGS = frozenset(
    "script style template noscript iframe svg canvas object applet".split()
)
BOILERPLATE_TAGS = frozenset(
    "nav header footer aside form button select option label legend".split()
)
# Block-level segmentation boundaries.
BLOCK_TAGS = frozenset(
    "div p td th li dd dt h1 h2 h3 h4 h5 h6 pre blockquote section article "
    "main figure figcaption tr table ul ol dl body".split()
)

NEGATIVE_RE = re.compile(
    r"nav|menu|footer|header|sidebar|side-bar|comment|banner|breadcrumb|"
    r"share|social|related|promo|advert|ad-|-ad\b|sponsor|widget|cookie|"
    r"popup|modal|masthead|pagination|paging|shoutbox|disqus",
    re.IGNORECASE,
)
POSITIVE_RE = re.compile(
    r"article|^body$|content|entry|hentry|main|page|post|text|blog|story",
    re.IGNORECASE,
)

Span = tuple[str, Optional[str], Optional[str]]  # (kind, text, media_ref)

MAX_LINK_DENSITY = 0.333
MIN_BLOCK_WORDS = 3
MIN_TEXT_DENSITY = 2.0  # words per (1 + inline tag): below = markup soup


def _class_id_signal(attrs: tuple[tuple[str, Optional[str]], ...]) -> int:
    """-1 boilerplate, +1 content-protected, 0 neutral, from class/id tokens."""
    for name, value in attrs:
        if name in ("class", "id") and value:
            if NEGATIVE_RE.search(value):
                return -1
            if POSITIVE_RE.search(value):
                return 1
    return 0


def extract_main_spans(html: str) -> tuple[list[Span], str, Optional[str]]:
    """Main-content spans of one HTML string, with the strict kernel's
    status and error (same tokenizer, same tag-mismatch rule)."""
    try:
        # drained whole first: a tokenizer failure outranks a mismatch
        return _main_walk(list(_tokens(html)))
    except _Fail as f:
        return [], f.status, f.error


def _main_walk(tokens: list[tuple]) -> tuple[list[Span], str, Optional[str]]:
    """The scored walk over one document's drained token records."""
    # --- scored walk -------------------------------------------------------
    # Stack entries: (tag, dropped: bool, protected: bool)
    # Blocks: list of dicts {spans: [(kind,text,mref)], words, link_words}
    blocks: list[dict[str, Any]] = [{"spans": [], "words": 0, "link_words": 0, "tags": 0}]
    stack: list[tuple[Any, bool, bool]] = []
    drop_depth = 0  # >0 while inside a dropped subtree
    link_depth = 0  # >0 while inside <a>

    def open_block() -> None:
        if blocks[-1]["spans"] or blocks[-1]["words"]:
            blocks.append({"spans": [], "words": 0, "link_words": 0, "tags": 0})

    for code, tag, payload, attrs in tokens:
        if code == _T_TEXT:
            if drop_depth:
                continue
            w = len(payload.split())
            b = blocks[-1]
            b["spans"].append(("text", payload, None))
            b["words"] += w
            if link_depth:
                b["link_words"] += w
        elif code == _T_OPEN or code == _T_VOID:
            low = tag.lower()
            protected = stack[-1][2] if stack else False
            dropped = drop_depth > 0
            if not dropped:
                if low in STRIP_TAGS:
                    dropped = True
                else:
                    sig = _class_id_signal(attrs)
                    if low in BOILERPLATE_TAGS:
                        # explicit semantic chrome tags drop unconditionally
                        dropped = True
                    elif sig == 1:
                        protected = True
                    elif sig == -1 and not protected:
                        dropped = True
            # payload: the media span of a media tag; kept only with a src
            media = payload if payload and payload[2] is not None else None
            if code == _T_VOID:
                # void element: media emit only; no stack effect
                if not dropped and media:
                    blocks[-1]["spans"].append(media)
                continue
            stack.append((tag, dropped, protected))
            if dropped:
                drop_depth += 1
            else:
                if low == "a":
                    link_depth += 1
                if low in BLOCK_TAGS:
                    open_block()
                else:
                    blocks[-1]["tags"] += 1  # inline tag inside the block
                if media:  # media open tag (img etc. unslashed)
                    blocks[-1]["spans"].append(media)
        elif code == _T_END:
            if not stack or stack[-1][0] != tag:
                # the strict walk errors here; mirror it
                return [], STATUS_ERROR, E_TAG_MISMATCH
            tag, dropped, _prot = stack.pop()
            if dropped:
                drop_depth -= 1
            else:
                low = tag.lower()
                if low == "a":
                    link_depth -= 1
                if low in BLOCK_TAGS:
                    open_block()

    # --- block classification ----------------------------------------------
    n = len(blocks)
    is_content = [False] * n
    for i, b in enumerate(blocks):
        if not b["words"]:
            continue
        ld = b["link_words"] / b["words"]
        td = b["words"] / (1 + b["tags"])
        is_content[i] = (
            ld <= MAX_LINK_DENSITY
            and b["words"] >= MIN_BLOCK_WORDS
            and td >= MIN_TEXT_DENSITY
        )
    # nearest non-empty block at index > i (structure-only, is_content-free),
    # precomputed once so both passes below are O(n) — a mega-doc with many
    # boilerplate blocks must not trigger a quadratic prefix/suffix rescan
    next_nonempty: list[Optional[int]] = [None] * n
    nxt_j: Optional[int] = None
    for i in range(n - 1, -1, -1):
        next_nonempty[i] = nxt_j
        if blocks[i]["words"]:
            nxt_j = i
    # neighbourhood rescue: a short low-link block is kept when content has
    # appeared before it AND the nearest following non-empty block is content
    # (Boilerpipe's 'surrounded' rule, prefix-relaxed on the left: any earlier
    # content block qualifies, not only the immediately preceding one).
    # `seen_content` is a running prefix flag; counting just-rescued blocks in
    # it is equivalent, since a rescued block itself requires earlier content.
    seen_content = False
    for i, b in enumerate(blocks):
        if not is_content[i] and b["words"] and seen_content:
            if b["link_words"] / b["words"] <= MAX_LINK_DENSITY:
                nxt = next_nonempty[i]
                if nxt is not None and is_content[nxt]:
                    is_content[i] = True
        if is_content[i] and b["words"]:
            seen_content = True

    out: list[Span] = []
    seen_content = False
    for i, b in enumerate(blocks):
        if is_content[i]:
            out.extend(b["spans"])
            if b["words"]:
                seen_content = True
        elif not b["words"]:
            # media-only block: keep media if adjacent to content
            if any(k == "media" for k, _, _ in b["spans"]):
                rj = next_nonempty[i]
                if seen_content or (rj is not None and is_content[rj]):
                    out.extend(s for s in b["spans"] if s[0] == "media")
    return out, STATUS_OK, None


def process_document_main(
    kinds: list[str],
    texts: list[Optional[str]],
    media_refs: list[Optional[str]],
    out_kinds: list[str],
    out_texts: list[Optional[str]],
    out_mrefs: list[Optional[str]],
) -> tuple[int, str, Optional[str], int]:
    """process_document_flat's signature and contract, main-content spans:
    each text span is drained once and walked once; n_text_chars sums the
    drained text tokens (the strict text spans). At the first failing text
    span the document's rows roll back and it goes to process_document_flat."""
    n0, n_chars = len(out_kinds), 0
    for kind, text, mref in zip(kinds, texts, media_refs):
        if kind == "media":
            spans = [("media", None, mref)]
        else:
            try:
                tokens = list(_tokens(text or ""))
                spans, status, _err = _main_walk(tokens)
            except _Fail:
                status = None
            if status != STATUS_OK:
                del out_kinds[n0:], out_texts[n0:], out_mrefs[n0:]
                return process_document_flat(
                    kinds, texts, media_refs, out_kinds, out_texts, out_mrefs
                )
            n_chars += sum(len(p) for code, _n, p, _a in tokens if code == _T_TEXT)
        for k, t, mr in spans:
            out_kinds.append(k)
            out_texts.append(t)
            out_mrefs.append(mr)
    return len(out_kinds) - n0, STATUS_OK, None, n_chars


def extract_main_content(
    kinds: list[str],
    texts: list[Optional[str]],
    media_refs: list[Optional[str]],
) -> list[dict[str, Any]]:
    """process_document_main's spans of one document as
    {kind, text, media_ref, order} dicts."""
    out: tuple[list, list, list] = ([], [], [])
    process_document_main(kinds, texts, media_refs, *out)
    return [
        {"kind": k, "text": t, "media_ref": m, "order": i}
        for i, (k, t, m) in enumerate(zip(*out))
    ]
