"""Extraction kernel: one compiled token scan -> parent-stack span build.

This is the hot path that runs inside ``mapInArrow`` (one call per text
span of each document). All character work is done by ``TOKEN_RE``, one
compiled alternation of the reference tokenizer's regexes (built from
``core.jsre``): the C regex engine walks the document token by token, with
no string re-slicing (the reference's O(n²) ``advanceBy``, advance.ts:7),
and Python only unpacks each token's groups and applies the tag-stack
check. The tree is never materialized: the id/pid tree is isomorphic to
this stack walk (SURVEY.md §1.1), so the span sequence is emitted directly.

TOKEN_RE's alternatives can never start at the same position, so each one
fires exactly where the reference tokenizer applies the same regex; the
final catch-all marks the first position where the reference throws or
hangs, and ``_failure`` names the error from the characters there.

Error precedence: the reference tokenizes the whole source before building
the tree (htmlParser.ts:26-33), so a tokenizer error late in the document
must win over an earlier tag mismatch. A mismatch therefore only sets a
flag and the scan continues to EOF or to a tokenizer failure.

Semantics are pinned to ``core.oracle`` (itself pinned to the reference
bundle); tests/test_kernel_vs_oracle.py asserts span-for-span equality.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Iterable, Optional

from ..core.jsre import (
    _JS_DOT_EXCL,
    _WS,
    ATTR_RE,
    INTERP_RE,
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
TOKEN_RE = re.compile(
    "<(?=[A-Za-z])([^>" + _WS + "/]*)[" + _WS + "]*([^<>]*)>"
    "|</[" + _WS + "]*([^>" + _WS + "/]+)[" + _WS + "]*>"
    r"|(?!\{\{)([^<>](?!/)[^<>]*)"
    r"|<!--(?:[\s\S]*?-->|[\s\S]*)"
    r"|<!\[CDATA\[[\s\S]*?\]\]"
    r"|\{\{[" + _WS + "]*[^" + re.escape(_JS_DOT_EXCL) + "]*?[" + _WS + r"]*\}\}"
    "|(</)[^<>]*>"
    r"|([\s\S]+)"
)

# Documents up to this many chars are scanned with one findall list; longer
# ones stream their tokens so a mega-doc never holds all of them at once.
_FINDALL_MAX_CHARS = 1 << 16

# Compact token type codes (_tokenize_arrays output)
_T_TEXT = 0
_T_OPEN = 1
_T_VOID = 2
_T_END = 3
# emitted only with keep_all=True (full-parse consumers; the extraction walk
# never sees them — Comment/CDATA/Interpolation extract no spans)
_T_COMMENT = 4
_T_CDATA = 5
_T_INTERP = 6


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
    parse_all_attrs: bool = False  # keep per-element attrs (diff/heuristics)


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


def _tokenize_arrays(
    s: str, want_attrs: bool, keep_all: bool = False
) -> tuple[list[int], list[Optional[str]], list[Any], list[Any]]:
    """Tokenize one document into parallel arrays (types, tags, payloads,
    attrs) by draining TOKEN_RE's matches; raises _Fail where the reference
    throws or hangs.

    payloads: text content for _T_TEXT, src value for media _T_OPEN/_T_VOID.
    _T_END tags are None when the reference's tagName is undefined or empty
    (such an end tag can never match an open element).

    keep_all=True additionally emits Comment/CDATA/Interpolation tokens, with
    payloads derived from the match text: comment content per
    tokenize.ts:140-161 (an unclosed comment keeps the whole rest of the
    source, '<!--' included), CDATA inner, and the (raw, inner)
    interpolation pair. Without it they are skipped (they extract no spans).
    """
    types: list[int] = []
    tags: list[Any] = []
    payloads: list[Any] = []
    attrs_col: list[Any] = []

    for m in TOKEN_RE.finditer(s):
        tag, attrs, end, text, undef, bad = m.groups()
        attr_list = None
        if text:
            t, tg, payload = _T_TEXT, None, text
        elif tag:
            if attrs.endswith("/"):
                if tag not in UNARY_TAGS:
                    raise _Fail(STATUS_ERROR, E_ILLEGAL_SELF_CLOSE)
                t, tg, attrs = _T_VOID, tag, attrs[:-1]
            else:
                t, tg = _T_OPEN, tag
            payload = _first_src_attr(attrs) if tag in MEDIA_TAGS else None
            if want_attrs:
                attr_list = [
                    (am.group(1), am.group(2) or am.group(3) or am.group(4))
                    for am in ATTR_RE.finditer(attrs)
                ]
        elif end or undef:
            t, tg, payload = _T_END, end, None
        elif bad:
            raise _Fail(*_failure(bad))
        elif not keep_all:
            continue
        else:
            raw = m.group()
            tg = None
            if raw[0] == "{":
                t, payload = _T_INTERP, (raw, INTERP_RE.match(raw).group(1))
            elif raw[2] == "-":
                closed = len(raw) >= 7 and raw.endswith("-->")
                t, payload = _T_COMMENT, (raw[4:-3] if closed else raw)
            else:
                t, payload = _T_CDATA, raw[9:-2]
        types.append(t)
        tags.append(tg)
        payloads.append(payload)
        if want_attrs:
            attrs_col.append(attr_list)

    return types, tags, payloads, attrs_col


def extract_doc_spans(
    html: str,
) -> tuple[list[tuple[str, Optional[str], Optional[str]]], str, Optional[str]]:
    """Extract the ordered (kind, text, media_ref) span sequence of one HTML
    string. Never raises, never hangs. Fast path for tag-free payloads.

    Fused form of (_tokenize_arrays + parent-stack walk): one pass over
    TOKEN_RE's tokens, no token arrays. An illegal self-close or a tokenizer
    failure returns at once; a tag mismatch only sets a flag and the scan
    goes on (see the module docstring). Equality with the oracle is pinned
    by tests/test_kernel_vs_oracle.py and the hypothesis, edge-case and
    node-bundle fuzz suites.
    """
    # Fast path: no markup metacharacters at all -> single text token.
    # ('/' excluded so the position-1 not_data_mode quirk can't fire,
    # '{'/'<'/'>' excluded so no other branch can trigger.)
    if html and not any(c in html for c in "<>{/"):
        return [("text", html, None)], STATUS_OK, None

    # Group tuples: non-participating groups are '' from findall and None
    # from the stream, so every test below is on truthiness.
    if len(html) <= _FINDALL_MAX_CHARS:
        tokens: Iterable[tuple] = TOKEN_RE.findall(html)
    else:
        tokens = map(re.Match.groups, TOKEN_RE.finditer(html))
    spans: list[tuple[str, Optional[str], Optional[str]]] = []
    stack: list[str] = []
    tree_error = False  # first tag mismatch; finalized only at EOF
    for tag, attrs, end, text, undef, bad in tokens:
        if text:
            if not tree_error:
                spans.append(("text", text, None))
        elif tag:
            if attrs.endswith("/"):  # self-closing: no stack effect
                if tag not in UNARY_TAGS:
                    return [], STATUS_ERROR, E_ILLEGAL_SELF_CLOSE
                if not tree_error and tag in MEDIA_TAGS:
                    spans.append(("media", None, _first_src_attr(attrs[:-1])))
            elif not tree_error:
                if tag in MEDIA_TAGS:
                    spans.append(("media", None, _first_src_attr(attrs)))
                stack.append(tag)
        elif end:
            if not tree_error:
                if stack and stack[-1] == end:
                    stack.pop()
                else:
                    tree_error = True
        elif undef:
            tree_error = True
        elif bad:
            return [], *_failure(bad)
        # else comment / CDATA / interpolation: no span, no stack effect

    if tree_error:
        return [], STATUS_ERROR, E_TAG_MISMATCH
    # unclosed elements at EOF are silently kept (htmlParser.ts:108-119)
    return spans, STATUS_OK, None


def _first_src_attr(attrs_str: str) -> Optional[str]:
    for am in ATTR_RE.finditer(attrs_str):
        if am.group(1) == "src":
            return am.group(2) or am.group(3) or am.group(4)
    return None


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
