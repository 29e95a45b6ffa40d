"""Extraction kernel: one token record, one tag decoder, two scan levels.

This is the hot path that runs inside ``mapInArrow`` (one call per text
span of each document). The tokenizer is ``TOKEN_RE``, one compiled
alternation of the reference tokenizer's regexes (built from
``core.jsre``): the C regex engine walks the document token by token, with
no string re-slicing (the reference's O(n²) ``advanceBy``, advance.ts:7),
and Python only dispatches on each token and applies the tag-stack check.
The tree is never materialized: the id/pid tree is isomorphic to this
stack walk (SURVEY.md §1.1), so the span sequence is emitted directly.

TOKEN_RE's alternatives can never start at the same position, so each one
fires exactly where the reference tokenizer applies the same regex; the
final catch-all marks the first position where the reference throws or
hangs, and ``_failure`` names the error from the characters there.

Every scan reads one token record, ``(code, name, payload, attrs)``:

- ``_tokens(html)`` is the one TOKEN_RE drain, a generator (so it always
  streams): text, comment, CDATA and interpolation records, and every tag
  match decoded by ``_decode_tag``; it raises ``_Fail`` where the
  reference throws or hangs. parse, serialize and heuristics consume it;
  ``_token_scan`` walks it for the strict spans.
- ``_decode_tag(piece)`` is the one tag decoder, memoized per distinct
  piece in the bounded ``_TAG_CACHE``: open, void, illegal self-close, end
  (name ``None`` when the reference's tagName is undefined or empty, an
  always-mismatch), closed comment, or hazard. A tag's payload is its
  media span, its attrs the ``(name, value)`` tuple ``ATTR_RE`` reads,
  built once per distinct piece and never mutated.

Two levels for ``extract_doc_spans``. It first splits the document on tag
pieces (``<``, no bracket, ``>``) with one-group ``re.split``, which is
cheaper in C than TOKEN_RE's eight-way alternation, and walks the pieces:

- Gate: a chunk is walked only if its tag-piece count equals both its
  ``<`` count and its ``>`` count, so no bracket sits in a text piece.
  It is checked per chunk, before the chunk's first piece: a stray bracket
  is a token boundary or a failure for TOKEN_RE, and an illegal self-close
  later in the same chunk must not outrank it.
- Text pieces hold no bracket, so each is one TOKEN_RE text token, unless
  it starts with ``{{`` (rescanned alone through ``_tokens``: with no
  bracket inside it yields the tokens it yields in context, or fails) or
  its second char is ``/`` (the not_data_mode quirk).
- Tag pieces go through the memo (looked up inline: a call per piece
  costs the strict path about 5%); a closed comment is skipped.
- Fallback rule: anything else (a failed gate, a ``/`` text, a failing
  ``{{`` rescan, an unclosed comment, ``<!``, CDATA, ``<`` + non-letter)
  sends the WHOLE document through ``_token_scan``, which is the
  reference of the split path and handles every hazard.

A mega-doc is split in chunks of about ``_SPLIT_CHUNK_CHARS``, each cut
just after a ``>``, so a tag piece never straddles a cut and the piece
list stays bounded.

Error precedence: the reference tokenizes the whole source before building
the tree (htmlParser.ts:26-33), so a tokenizer error late in the document
must win over an earlier tag mismatch. A mismatch therefore only sets a
flag and the scan continues to EOF or to a tokenizer failure; the other
consumers take ``list(_tokens(html))`` before they walk it.

Semantics are pinned to ``core.oracle`` (itself pinned to the reference
bundle); tests/test_kernel_vs_oracle.py asserts span-for-span equality.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Iterator, Optional

from ..core.jsre import (
    _JS_DOT_EXCL,
    _WS,
    ATTR_RE,
    MEDIA_TAGS,
    UNARY_TAGS,
)
from ..core.oracle import (
    E_CDATA_UNCLOSED,
    E_DIVERGENT,
    E_ILLEGAL_SELF_CLOSE,
    E_INTERP_UNCLOSED,
    E_NOT_DATA_MODE,
    E_TAG_MISMATCH,
    STATUS_DIVERGENT,
    STATUS_ERROR,
    STATUS_OK,
)

# One token per match; six groups (every group is paid for on every token,
# so comment / CDATA / interpolation stay non-capturing):
#   1 tag, 2 attrs   start tag: elementRE's second alternative behind a
#                    '<' + ASCII letter guard. attrs runs greedily to the
#                    '>', so a trailing '/' is the self-close mark; without
#                    it, attrs equals elementRE's lazy group 3
#   3 end            end tag with a non-empty name (elementRE's first
#                    alternative)
#   4 text           parseText's [^<>]+ where no other branch applies:
#                    not '{{', second char not '/'
#   (none)           comment (closed iff the '-->' search from pos+4
#                    succeeds, else it swallows the rest), CDATA (']]'
#                    close), interpolation
#   5 undef          '</' that only elementRE's start alternative matches,
#                    or an empty end-tag name: tagName is undefined or ''
#                    -> always a tag mismatch
#   6 bad            catch-all: the reference throws or hangs here; the
#                    group holds the rest of the source
_START_TAG = "<(?=[A-Za-z])([^>" + _WS + "/]*)[" + _WS + "]*([^<>]*)>"
_END_TAG = "</[" + _WS + "]*([^>" + _WS + "/]+)[" + _WS + "]*>"
TOKEN_RE = re.compile(
    _START_TAG
    + "|" + _END_TAG
    + r"|(?!\{\{)([^<>](?!/)[^<>]*)"
    r"|<!--(?:[\s\S]*?-->|[\s\S]*)"
    r"|<!\[CDATA\[[\s\S]*?\]\]"
    r"|\{\{[" + _WS + "]*[^" + re.escape(_JS_DOT_EXCL) + "]*?[" + _WS + r"]*\}\}"
    "|(</)[^<>]*>"
    r"|([\s\S]+)"
)

# Split path (extract_doc_spans only). A tag piece is '<', no bracket, '>';
# splitting on it with one group alternates text and tag pieces. A
# document is split in chunks of about this many chars, each cut just
# after a '>', so a mega-doc never holds all of its pieces at once.
_SPLIT_RE = re.compile(r"(<[^<>]*>)")
_SPLIT_CHUNK_CHARS = 1 << 16
_START_TAG_RE = re.compile(_START_TAG)
_END_TAG_RE = re.compile(_END_TAG)

# Token codes: the first field of every token record
_T_TEXT = 0  # payload: the text
_T_OPEN = 1  # push name; payload: media span if a media tag
_T_VOID = 2  # no stack effect; payload: media span if a media tag
_T_END = 3  # pop name; name None (undefined or empty) always mismatches
_T_COMMENT = 4  # payload: comment content (no span, no stack effect)
_T_CDATA = 5  # payload: CDATA inner
_T_INTERP = 6  # payload: the raw '{{...}}' (parse derives the inner)
_T_ILLEGAL = 7  # self-closed non-void tag
_T_HAZARD = 8  # a piece TOKEN_RE does not read as one tag: split fallback

# Decoded tag pieces. A piece always decodes the same, so one memo serves
# every call in the worker; bounded, cleared when full (documents with
# ever-new attribute values must not grow it).
_TAG_CACHE: dict[str, tuple] = {}
_TAG_CACHE_MAX = 1 << 12


@dataclass(frozen=True)
class ExtractOptions:
    """Extraction behavior flags.

    mode='strict' reproduces the reference's extraction exactly (the
    span-equality contract). mode='main' additionally applies the flag-gated
    main-content heuristics (script/style strip + density scoring) — see
    kernels/heuristics.py; heuristic output is NOT covered by the reference
    equality contract (SURVEY.md §2.1).
    """

    mode: str = "strict"


class _Fail(Exception):
    def __init__(self, status: str, error: str):
        self.status = status
        self.error = error


def _failure(rest: str) -> tuple[str, str]:
    """(status, error) for the source remaining at TOKEN_RE's catch-all."""
    if rest.startswith("<![CDATA["):
        return STATUS_ERROR, E_CDATA_UNCLOSED  # TypeError in the reference
    if rest[0] == "<":
        # '<!' not '<!--', '<' + non-letter, or elementRE never matching:
        # the reference loops forever
        return STATUS_DIVERGENT, E_DIVERGENT
    if rest[1:2] == "/":
        return STATUS_ERROR, E_NOT_DATA_MODE  # tokenize.ts:32-34 quirk
    if rest.startswith("{{"):
        return STATUS_ERROR, E_INTERP_UNCLOSED  # TypeError in the reference
    return STATUS_DIVERGENT, E_DIVERGENT  # '>': empty text token, no advance


def _decode_tag(piece: str) -> tuple:
    """The token record (code, name, media span, attrs) of one tag piece,
    exactly as TOKEN_RE reads it in context; stored in the memo. A split
    piece holds no bracket but its own two, and a TOKEN_RE tag match
    decodes by a full match of its own branch, so either reads whole."""
    c = piece[1]
    if c == "/":
        m = _END_TAG_RE.fullmatch(piece)
        d: tuple = (_T_END, m and m.group(1), None, None)
    elif c == "!":
        # a closed comment; '<!-->' / '<!--->' are not closed (the '-->'
        # search starts 4 chars in) and swallow the rest of the document
        if len(piece) >= 7 and piece.startswith("<!--") and piece.endswith("-->"):
            d = (_T_COMMENT, None, piece[4:-3], None)
        else:
            d = (_T_HAZARD, None, None, None)
    elif (m := _START_TAG_RE.fullmatch(piece)) is None:  # '<' + non-letter
        d = (_T_HAZARD, None, None, None)
    else:
        tag, attrs = m.groups()
        code = _T_OPEN
        if attrs.endswith("/"):
            code, attrs = (_T_VOID if tag in UNARY_TAGS else _T_ILLEGAL), attrs[:-1]
        pairs = tuple(
            (am.group(1), am.group(2) or am.group(3) or am.group(4))
            for am in ATTR_RE.finditer(attrs)
        )
        media = None
        if tag in MEDIA_TAGS:
            media = ("media", None, next((v for n, v in pairs if n == "src"), None))
        d = (code, tag, media, pairs)
    if len(_TAG_CACHE) >= _TAG_CACHE_MAX:
        _TAG_CACHE.clear()
    _TAG_CACHE[piece] = d
    return d


def _tokens(html: str) -> Iterator[tuple]:
    """The token records of one document, drained from TOKEN_RE in order;
    raises _Fail where the reference throws or hangs."""
    cache = _TAG_CACHE
    for m in TOKEN_RE.finditer(html):
        g = m.lastindex
        if g == 4:
            yield _T_TEXT, None, m.group(4), None
        elif g is None:  # comment, CDATA or interpolation
            raw = m.group()
            if raw[0] == "{":
                yield _T_INTERP, None, raw, None
            elif raw[2] == "-":
                # tokenize.ts:140-161: an unclosed comment keeps the whole
                # rest of the source, '<!--' included
                closed = len(raw) >= 7 and raw.endswith("-->")
                yield _T_COMMENT, None, (raw[4:-3] if closed else raw), None
            else:
                yield _T_CDATA, None, raw[9:-2], None
        elif g == 6:
            raise _Fail(*_failure(m.group(6)))
        else:  # start tag, end tag or undefined end tag
            piece = m.group()
            d = cache.get(piece) or _decode_tag(piece)
            if d[0] == _T_ILLEGAL:
                raise _Fail(STATUS_ERROR, E_ILLEGAL_SELF_CLOSE)
            yield d


def _split_scan(
    html: str,
) -> Optional[tuple[list[tuple[str, Optional[str], Optional[str]]], str, Optional[str]]]:
    """extract_doc_spans over tag pieces, or None where a chunk holds
    anything the piece decoder does not prove equal to TOKEN_RE's reading
    (the caller then rescans the whole document with TOKEN_RE)."""
    spans: list[tuple[str, Optional[str], Optional[str]]] = []
    stack: list[str] = []
    tree_error = False  # first tag mismatch; finalized only at EOF
    cache = _TAG_CACHE
    n = len(html)
    start = 0
    while start < n:
        if n - start <= _SPLIT_CHUNK_CHARS:
            stop = n
        else:
            stop = html.rfind(">", start, start + _SPLIT_CHUNK_CHARS) + 1
            if not stop:
                # no '>' in the window: cut after the next one, if any
                stop = html.find(">", start + _SPLIT_CHUNK_CHARS) + 1 or n
        chunk = html[start:stop] if start or stop < n else html
        start = stop
        parts = _SPLIT_RE.split(chunk)
        # Every bracket of the chunk must sit in a tag piece before any of
        # it is walked: a stray '<' or '>' is a TOKEN_RE token boundary (or
        # failure) that an illegal self-close later in the chunk must not
        # outrank.
        n_tags = len(parts) >> 1
        if chunk.count("<") != n_tags or chunk.count(">") != n_tags:
            return None
        parts.append("<!---->")  # pads the last text piece: an empty comment
        it = iter(parts)
        for text, piece in zip(it, it):
            if text:
                # a text piece is one TOKEN_RE text token unless it starts
                # with '{{' (interpolation) or its second char is '/'
                if text[1:2] == "/":
                    return None
                if text.startswith("{{"):
                    # no bracket inside: in context TOKEN_RE reads the same
                    # tokens as here, unless it fails
                    try:
                        for code, _n, sub, _a in _tokens(text):
                            if code == _T_TEXT and not tree_error:
                                spans.append(("text", sub, None))
                    except _Fail:
                        return None
                elif not tree_error:
                    spans.append(("text", text, None))
            code, name, media, _a = cache.get(piece) or _decode_tag(piece)
            if code == _T_OPEN:
                if not tree_error:
                    if media:
                        spans.append(media)
                    stack.append(name)
            elif code == _T_END:
                # a mismatch may pop: the stack is dead once it is flagged
                if not tree_error and (not stack or stack.pop() != name):
                    tree_error = True
            elif code == _T_VOID:
                if media and not tree_error:
                    spans.append(media)
            elif code == _T_ILLEGAL:
                return [], STATUS_ERROR, E_ILLEGAL_SELF_CLOSE
            elif code == _T_HAZARD:
                return None
            # else a closed comment: no span, no stack effect

    if tree_error:
        return [], STATUS_ERROR, E_TAG_MISMATCH
    return spans, STATUS_OK, None


def _token_scan(
    html: str,
) -> tuple[list[tuple[str, Optional[str], Optional[str]]], str, Optional[str]]:
    """extract_doc_spans by walking _tokens: one streamed pass, so a
    mega-doc never holds all of its tokens at once."""
    spans: list[tuple[str, Optional[str], Optional[str]]] = []
    stack: list[str] = []
    tree_error = False  # first tag mismatch; finalized only at EOF
    try:
        for code, name, payload, _a in _tokens(html):
            if code == _T_TEXT:
                if not tree_error:
                    spans.append(("text", payload, None))
            elif code == _T_OPEN:
                if not tree_error:
                    if payload:
                        spans.append(payload)
                    stack.append(name)
            elif code == _T_END:
                if not tree_error and (not stack or stack.pop() != name):
                    tree_error = True
            elif code == _T_VOID:
                if payload and not tree_error:
                    spans.append(payload)
            # else comment / CDATA / interpolation: no span, no stack effect
    except _Fail as f:
        return [], f.status, f.error

    if tree_error:
        return [], STATUS_ERROR, E_TAG_MISMATCH
    # unclosed elements at EOF are silently kept (htmlParser.ts:108-119)
    return spans, STATUS_OK, None


def extract_doc_spans(
    html: str,
) -> tuple[list[tuple[str, Optional[str], Optional[str]]], str, Optional[str]]:
    """Extract the ordered (kind, text, media_ref) span sequence of one HTML
    string. Never raises, never hangs.

    Two levels (see the module docstring): the split path walks tag pieces
    and returns None at the first chunk or piece it cannot prove safe; the
    whole document then goes through the TOKEN_RE path. An illegal
    self-close or a tokenizer failure returns at once; a tag mismatch only
    sets a flag and the scan goes on. Equality with the oracle is pinned
    by tests/test_kernel_vs_oracle.py and the hypothesis, edge-case and
    node-bundle fuzz suites.
    """
    # Fast path: no markup metacharacters at all -> single text token.
    # ('/' excluded so the position-1 not_data_mode quirk can't fire,
    # '{'/'<'/'>' excluded so no other branch can trigger.)
    if html and not any(c in html for c in "<>{/"):
        return [("text", html, None)], STATUS_OK, None
    return _split_scan(html) or _token_scan(html)


def process_document_flat(
    kinds: list[str],
    texts: list[Optional[str]],
    media_refs: list[Optional[str]],
    out_kinds: list[str],
    out_texts: list[Optional[str]],
    out_mrefs: list[Optional[str]],
) -> tuple[int, str, Optional[str], int]:
    """Process one interleaved document (parallel input-span arrays):
    append its extracted spans to the shared flat output lists (per-span
    order is the position within the document, i.e. 0..n-1 — the caller
    reconstructs it from the returned count). Returns (n_spans, status,
    error, n_text_chars).

    Same semantics as core/oracle.process_document (pinned by
    test_kernel_vs_oracle): on the first failing text span, earlier
    appended spans are KEPT and the status reflects the failure.
    """
    n0 = len(out_kinds)
    n_chars = 0
    for kind, text, mref in zip(kinds, texts, media_refs):
        if kind == "media":
            out_kinds.append("media")
            out_texts.append(None)
            out_mrefs.append(mref)
            continue
        spans, status, error = extract_doc_spans(text if text is not None else "")
        if status != STATUS_OK:
            return len(out_kinds) - n0, status, error, n_chars
        for k, t, mr in spans:
            out_kinds.append(k)
            out_texts.append(t)
            out_mrefs.append(mr)
            if t is not None:
                n_chars += len(t)
    return len(out_kinds) - n0, STATUS_OK, None, n_chars
