"""Minimal pure-Python PDF text extraction + synthesis (stdlib only).

The north_star names a PDF/layout branch; the reference repo has no PDF
semantics (it is an HTML parser), so this kernel is built from the public
PDF 1.4 specification, not from any reference contract. Scope is the
text-bearing subset a layout branch needs:

  reader (pdf_text_blocks):
    - object scan: `N G obj ... endobj` bodies, streams sliced by /Length
      (direct or indirect), /Filter /FlateDecode (zlib) or unfiltered
    - page order from the catalog's page tree (/Pages -> /Kids, nested
      Pages nodes expanded recursively)
    - per page: /Contents ref or array of refs, streams concatenated
    - content streams tokenized for BT..ET text objects; the shown text of
      Tj / ' / " / TJ operators concatenates into one block per BT..ET
      (TJ kerning numbers do not contribute spacing, per spec)
    - PDF string literals with balanced unescaped parens, \\-escapes
      (\\n \\r \\t \\b \\f \\( \\) \\\\, octal \\ddd, line continuations)
      and <hex> strings
    - `/Name Do` outside BT..ET emits a 'figure' block (XObject placement)
    - malformed/unsupported input degrades to zero blocks, never raises

  writer (synth_pdf): a correct single-xref PDF (catalog, page tree, one
  content stream per page, Helvetica) used to synthesize deterministic
  fixture corpora — alternating Tj / split-TJ emission and optional
  FlateDecode so the reader's paths are all exercised end-to-end.
"""

from __future__ import annotations

import re
import zlib
from typing import Optional

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(\s+\d+\s+R)?")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_PAGES_REF_RE = re.compile(rb"/Pages\s+(\d+)\s+\d+\s+R")
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.DOTALL)
_CONTENTS_RE = re.compile(rb"/Contents\s*(?:(\d+)\s+\d+\s+R|\[(.*?)\])", re.DOTALL)
_TYPE_RE = re.compile(rb"/Type\s*/(\w+)")
_FILTER_RE = re.compile(rb"/Filter\s*/(\w+)")


class _Obj:
    __slots__ = ("head", "stream")

    def __init__(self, head: bytes, stream: Optional[bytes]):
        self.head = head  # dict part (before any stream keyword)
        self.stream = stream  # raw (still-filtered) stream bytes or None


def _scan_objects(data: bytes) -> dict[int, _Obj]:
    objs: dict[int, _Obj] = {}
    for m in _OBJ_RE.finditer(data):
        num = int(m.group(1))
        body = m.group(3)
        sm = _STREAM_RE.search(body)
        if sm is None:
            objs[num] = _Obj(body, None)
            continue
        head = body[: sm.start()]
        raw = body[sm.end() :]
        lm = _LENGTH_RE.search(head)
        if lm is not None:
            if lm.group(2):  # indirect /Length N 0 R — resolve after the scan
                objs[num] = _Obj(head, raw)  # sliced lazily in _stream_bytes
                continue
            raw = raw[: int(lm.group(1))]
        else:  # no /Length: trust the endstream delimiter
            raw = re.sub(rb"\r?\n?endstream\s*$", b"", raw)
        objs[num] = _Obj(head, raw)
    return objs


_OBJSTM_N_RE = re.compile(rb"/N\s+(\d+)")
_OBJSTM_FIRST_RE = re.compile(rb"/First\s+(\d+)")


def _expand_object_streams(objs: dict[int, _Obj]) -> None:
    """PDF 1.5+: objects packed inside /Type /ObjStm compressed streams
    (the raw-file scan cannot see them — they are not `N 0 obj` framed).
    Decode each object stream and add its members to the table: the
    decoded stream starts with N (objnum, offset) integer pairs, then the
    object bodies at /First + offset (ISO 32000-1 §7.5.7; members are
    never stream objects themselves). Direct top-level objects win on
    number collisions. Malformed object streams are skipped."""
    members: dict[int, _Obj] = {}
    for obj in list(objs.values()):
        tm = _TYPE_RE.search(obj.head)
        if tm is None or tm.group(1) != b"ObjStm":
            continue
        try:
            data = _stream_bytes(obj, objs)
            if data is None:
                continue
            n = int(_OBJSTM_N_RE.search(obj.head).group(1))
            first = int(_OBJSTM_FIRST_RE.search(obj.head).group(1))
            header = data[:first].split()
            if len(header) < 2 * n:
                continue
            pairs = [
                (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
            ]
            for i, (num, off) in enumerate(pairs):
                end = pairs[i + 1][1] if i + 1 < n else len(data) - first
                members[num] = _Obj(data[first + off : first + end], None)
        except Exception:
            continue
    for num, obj in members.items():
        objs.setdefault(num, obj)


def _stream_bytes(obj: _Obj, objs: dict[int, _Obj]) -> Optional[bytes]:
    """Decoded stream content of an object (resolving indirect /Length)."""
    if obj.stream is None:
        return None
    raw = obj.stream
    lm = _LENGTH_RE.search(obj.head)
    if lm is not None and lm.group(2):
        ref = objs.get(int(lm.group(1)))
        if ref is not None:
            try:
                raw = raw[: int(ref.head.strip())]
            except ValueError:
                pass
    fm = _FILTER_RE.search(obj.head)
    if fm is not None:
        if fm.group(1) != b"FlateDecode":
            return None  # unsupported filter: no text recoverable
        try:
            raw = zlib.decompress(raw)
        except zlib.error:
            return None
    return raw


def _page_order(objs: dict[int, _Obj]) -> list[int]:
    """Page object numbers in document order via the catalog's page tree;
    falls back to ascending /Type /Page object number if the tree is
    broken (robustness on damaged files)."""
    root: Optional[int] = None
    for num, obj in objs.items():
        tm = _TYPE_RE.search(obj.head)
        if tm is not None and tm.group(1) == b"Catalog":
            pm = _PAGES_REF_RE.search(obj.head)
            if pm is not None:
                root = int(pm.group(1))
            break
    pages: list[int] = []

    def expand(num: int, depth: int) -> None:
        if depth > 64:  # cycle guard
            return
        obj = objs.get(num)
        if obj is None:
            return
        tm = _TYPE_RE.search(obj.head)
        kind = tm.group(1) if tm is not None else b""
        if kind == b"Page":
            pages.append(num)
            return
        km = _KIDS_RE.search(obj.head)
        if km is not None:
            for rm in _REF_RE.finditer(km.group(1)):
                expand(int(rm.group(1)), depth + 1)

    if root is not None:
        expand(root, 0)
    if not pages:
        pages = sorted(
            n for n, o in objs.items()
            if (tm := _TYPE_RE.search(o.head)) is not None and tm.group(1) == b"Page"
        )
    return pages


def _page_content(num: int, objs: dict[int, _Obj]) -> bytes:
    obj = objs.get(num)
    if obj is None:
        return b""
    cm = _CONTENTS_RE.search(obj.head)
    if cm is None:
        return b""
    refs = [int(cm.group(1))] if cm.group(1) else [
        int(r.group(1)) for r in _REF_RE.finditer(cm.group(2))
    ]
    parts = []
    for r in refs:
        o = objs.get(r)
        if o is None:
            continue
        s = _stream_bytes(o, objs)
        if s:
            parts.append(s)
    return b"\n".join(parts)


_ESCAPES = {
    ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t",
    ord("b"): b"\b", ord("f"): b"\f",
    ord("("): b"(", ord(")"): b")", ord("\\"): b"\\",
}


def _read_literal(s: bytes, i: int) -> tuple[bytes, int]:
    """Parse a ( ... ) string literal starting at s[i]=='('; returns
    (decoded bytes, index after the closing paren). Balanced unescaped
    parens nest; \\-escapes and octal per PDF 1.4 §3.2.3."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(s)
    while i < n and depth:
        c = s[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = s[i]
            if e in _ESCAPES:
                out += _ESCAPES[e]
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                j = i
                while j < n and j < i + 3 and 0x30 <= s[j] <= 0x37:
                    j += 1
                out.append(int(s[i:j], 8) & 0xFF)
                i = j
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and s[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the char stands for itself
                out.append(e)
                i += 1
        elif c == 0x28:  # (
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _read_hex(s: bytes, i: int) -> tuple[bytes, int]:
    j = s.find(b">", i)
    if j < 0:
        j = len(s)
    hx = re.sub(rb"\s", b"", s[i + 1 : j])
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii")), j + 1
    except ValueError:
        return b"", j + 1


_TOKEN_RE = re.compile(rb"\bBT\b|\bET\b|\bTj\b|\bTJ\b|'|\"|\(|<<|<[^<]|/(\w+)\s+Do\b")


def _extract_content_blocks(content: bytes) -> list[tuple[str, str]]:
    """[(kind, text)] blocks of one page's content stream, in stream order:
    one 'text' block per BT..ET carrying shown text; one 'figure' block per
    XObject placement (`/Name Do`) outside a text object."""
    blocks: list[tuple[str, str]] = []
    in_text = False
    shown: list[bytes] = []  # strings shown since BT
    pending: list[bytes] = []  # string operands not yet consumed by an op
    i = 0
    n = len(content)
    while i < n:
        m = _TOKEN_RE.search(content, i)
        if m is None:
            break
        tok = m.group(0)
        if tok == b"(":
            lit, i = _read_literal(content, m.start())
            pending.append(lit)
            continue
        if tok.startswith(b"<"):
            if tok == b"<<":
                i = m.end()  # dict open (BDC property lists etc.), not a hex string
                continue
            lit, i = _read_hex(content, m.start())
            pending.append(lit)
            continue
        i = m.end()
        if tok == b"BT":
            in_text = True
            shown = []
            pending = []
        elif tok == b"ET":
            if in_text and shown:
                blocks.append(("text", b"".join(shown).decode("latin-1")))
            in_text = False
        elif tok in (b"Tj", b"'"):
            if in_text and pending:
                shown.append(pending[-1])
            pending = []
        elif tok == b'"':
            if in_text and pending:
                shown.append(pending[-1])
            pending = []
        elif tok == b"TJ":
            # array form: every string operand since the last op belongs to
            # the array; kerning numbers contribute no characters
            if in_text and pending:
                shown.extend(pending)
            pending = []
        elif m.group(1) is not None:  # /Name Do
            if not in_text:
                blocks.append(("figure", m.group(1).decode("latin-1")))
            pending = []
    return blocks


def pdf_text_blocks(data: bytes) -> list[tuple[int, int, str, str]]:
    """Extract ordered text/figure blocks from PDF bytes:
    [(page, block_order, block_kind, content)], block_order running across
    the whole document. Malformed input yields [] (never raises)."""
    if not data.startswith(b"%PDF"):
        return []
    try:
        objs = _scan_objects(data)
        _expand_object_streams(objs)  # PDF 1.5+ packed objects
        out: list[tuple[int, int, str, str]] = []
        order = 0
        for page_idx, page_num in enumerate(_page_order(objs)):
            for kind, text in _extract_content_blocks(_page_content(page_num, objs)):
                out.append((page_idx, order, kind, text))
                order += 1
        return out
    except Exception:
        return []


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------

def _escape_literal(text: str) -> bytes:
    # errors="replace" keeps synth_pdf total over arbitrary text (the
    # degrade-never-raise policy); non-latin-1 chars become '?'
    b = text.encode("latin-1", errors="replace")
    return b.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def _page_stream(blocks: list[str], page_idx: int) -> bytes:
    """One content stream: block b -> BT..ET; alternating Tj and split-TJ
    emission (by (page+block) parity) so both reader paths get exercised.
    TJ splits the text in half with a kerning number between the halves —
    concatenation is unchanged (kerning adds no characters)."""
    parts = []
    y = 720
    for b, text in enumerate(blocks):
        if (page_idx + b) % 2 == 0 or len(text) < 2:
            shown = b"(" + _escape_literal(text) + b") Tj"
        else:
            h = len(text) // 2
            shown = (
                b"[(" + _escape_literal(text[:h]) + b") -250 ("
                + _escape_literal(text[h:]) + b")] TJ"
            )
        parts.append(b"BT /F1 12 Tf 72 %d Td " % y + shown + b" ET")
        y -= 36
    return b"\n".join(parts)


def synth_pdf(
    pages: list[list[str]], compress: bool = False, objstm: bool = False
) -> bytes:
    """A correct minimal PDF: one content stream per page of text blocks,
    optional FlateDecode. Deterministic bytes for fixtures.

    objstm=False: PDF 1.4 shape — every object top-level, classic xref
    table + trailer.
    objstm=True: PDF 1.5 shape — every NON-stream object (catalog, page
    tree, page dicts, font) packed into one FlateDecode /Type /ObjStm,
    plus a real cross-reference STREAM (/Type /XRef, W [1 4 2], type-2
    entries pointing into the object stream) instead of the classic
    table. Content streams stay top-level (stream objects cannot live in
    an ObjStm — ISO 32000-1 §7.5.7). This is the dominant real-corpus
    PDF container."""
    n = len(pages)
    font_num = 3 + 2 * n
    objects: list[bytes] = []  # bodies WITHOUT the "N 0 obj"/"endobj" framing
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # obj 1
    kids = b" ".join(b"%d 0 R" % (3 + 2 * i) for i in range(n))
    objects.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n
    )  # obj 2
    for i, blocks in enumerate(pages):
        objects.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
            % (font_num, 4 + 2 * i)
        )
        data = _page_stream(blocks, i)
        if compress:
            data = zlib.compress(data)
            head = b"<< /Length %d /Filter /FlateDecode >>" % len(data)
        else:
            head = b"<< /Length %d >>" % len(data)
        objects.append(head + b"\nstream\n" + data + b"\nendstream")
    objects.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    if not objstm:
        out = bytearray(b"%PDF-1.4\n")
        offsets = [0]
        for num, body in enumerate(objects, start=1):
            offsets.append(len(out))
            out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
        xref_at = len(out)
        out += b"xref\n0 %d\n" % (len(objects) + 1)
        out += b"0000000000 65535 f \n"
        for off in offsets[1:]:
            out += b"%010d 00000 n \n" % off
        out += (
            b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objects) + 1, xref_at)
        )
        return bytes(out)

    # ---- PDF 1.5 object-stream form ----
    packed = {  # object number -> body: every NON-stream object
        num: body
        for num, body in enumerate(objects, start=1)
        if num in (1, 2, font_num) or num % 2 == 1  # catalog/pages/font/page dicts
    }
    top = {  # content streams stay top-level
        num: body for num, body in enumerate(objects, start=1) if num not in packed
    }
    objstm_num = font_num + 1
    xref_num = font_num + 2

    pairs = bytearray()
    bodies = bytearray()
    offs = []
    for num in sorted(packed):
        offs.append((num, len(bodies)))
        bodies += packed[num] + b"\n"
    pairs = b" ".join(b"%d %d" % (num, off) for num, off in offs) + b"\n"
    stm_plain = bytes(pairs) + bytes(bodies)
    stm = zlib.compress(stm_plain)
    objstm_body = (
        b"<< /Type /ObjStm /N %d /First %d /Length %d /Filter /FlateDecode >>"
        b"\nstream\n" % (len(packed), len(pairs), len(stm)) + stm + b"\nendstream"
    )

    out = bytearray(b"%PDF-1.5\n")
    positions: dict[int, int] = {}
    for num in sorted(top):
        positions[num] = len(out)
        out += b"%d 0 obj\n" % num + top[num] + b"\nendobj\n"
    positions[objstm_num] = len(out)
    out += b"%d 0 obj\n" % objstm_num + objstm_body + b"\nendobj\n"

    # cross-reference stream: W [1 4 2] (type, field2, field3)
    size = xref_num + 1
    idx_in_stm = {num: i for i, (num, _o) in enumerate(offs)}
    xref_at = len(out)
    rows = bytearray()
    for num in range(size):
        if num == 0:
            rows += bytes([0]) + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")
        elif num in idx_in_stm:
            rows += (
                bytes([2])
                + objstm_num.to_bytes(4, "big")
                + idx_in_stm[num].to_bytes(2, "big")
            )
        else:
            pos = positions.get(num, xref_at if num == xref_num else 0)
            rows += bytes([1]) + pos.to_bytes(4, "big") + (0).to_bytes(2, "big")
    xdata = zlib.compress(bytes(rows))
    out += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R "
        b"/Length %d /Filter /FlateDecode >>\nstream\n" % (xref_num, size, len(xdata))
        + xdata
        + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)
