"""Pure-Python GIF decode + synthesis (stdlib + numpy only).

GIF's compression is LZW with variable-width codes (public spec: GIF87a/
GIF89a, W3C/CompuServe), which needs no codec library — so like PDF
(FlateDecode) and PNG (zlib), the decode step can be fully real here:
header + logical screen descriptor, global/local color tables, extension
skipping, image descriptors, sub-block reassembly, LZW decompression
(clear/EOI codes, width growth to 12 bits), palette mapping, and Adam-less
4-pass interlace reordering. JPEG remains the one honestly codec-bound
image format (DCT + entropy coding is a genuine codec, not a container).

`decode_gif` returns the FIRST frame as HxWx3 RGB (the image_features
contract); `gif_frame_count` walks all image descriptors without
decompressing pixels (the cheap metadata pass, like core/av.y4m_info).
`synth_gif` writes a correct single-frame GIF with a deterministic
palette so fixtures exercise the decoder end-to-end.
"""

from __future__ import annotations

import struct
from typing import Optional

import numpy as np


def _lzw_decode(data: bytes, min_code_size: int, expected: int) -> Optional[bytearray]:
    """GIF-flavor LZW: variable code width starting at min_code_size+1,
    growing when the dict fills the current width, capped at 12 bits;
    CLEAR resets the dict, EOI ends the stream. Returns None on any
    malformed code sequence."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    dict_base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(dict_base)
    out = bytearray()
    prev: Optional[bytes] = None
    acc = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return out if len(out) >= expected else None
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(dict_base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out if len(out) >= expected else None
        if code < len(table) and (code < clear or table[code]):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            return None
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
        if len(out) >= expected:
            return out


def _deinterlace(idx: np.ndarray) -> np.ndarray:
    """GIF 4-pass interlace: rows 0,8,16.. then 4,12.. then 2,6.. then odd."""
    h = idx.shape[0]
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    out = np.empty_like(idx)
    out[order] = idx
    return out


def _read_blocks(data: bytes, pos: int) -> tuple[Optional[bytes], int]:
    """Concatenate data sub-blocks starting at pos; returns (bytes, next_pos)."""
    chunks = []
    while True:
        if pos >= len(data):
            return None, pos
        n = data[pos]
        pos += 1
        if n == 0:
            return b"".join(chunks), pos
        if pos + n > len(data):
            return None, pos
        chunks.append(data[pos : pos + n])
        pos += n


def decode_gif(data: bytes) -> Optional[np.ndarray]:
    """First frame of a GIF -> HxWx3 uint8 RGB (frame-local size; row 0 =
    top, interlace undone). Malformed/truncated input returns None (never
    raises)."""
    try:
        if data[:6] not in (b"GIF87a", b"GIF89a"):
            return None
        sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", data, 6)
        pos = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 0x07)
            gct = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        while pos < len(data):
            b = data[pos]
            pos += 1
            if b == 0x3B:  # trailer
                return None
            if b == 0x21:  # extension: label + sub-blocks
                pos += 1
                _, pos = _read_blocks(data, pos)
                continue
            if b != 0x2C:  # not an image descriptor
                return None
            _lx, _ty, w, h, iflags = struct.unpack_from("<HHHHB", data, pos)
            pos += 9
            table = gct
            if iflags & 0x80:  # local color table
                n = 2 << (iflags & 0x07)
                table = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if table is None or not w or not h or w > 1 << 15 or h > 1 << 15:
                return None
            min_code = data[pos]
            pos += 1
            lzw, pos = _read_blocks(data, pos)
            if lzw is None or not (2 <= min_code <= 8):
                return None
            idx = _lzw_decode(lzw, min_code, w * h)
            if idx is None:
                return None
            arr = np.frombuffer(bytes(idx[: w * h]), np.uint8).reshape(h, w)
            if (arr >= len(table)).any():
                return None
            if iflags & 0x40:
                arr = _deinterlace(arr)
            return np.ascontiguousarray(table[arr])
        return None
    except Exception:
        return None


def gif_frame_count(data: bytes) -> Optional[int]:
    """Number of image descriptors (animation frames) WITHOUT LZW-decoding
    any pixels — the sub-block walk skips payload by length bytes only."""
    try:
        if data[:6] not in (b"GIF87a", b"GIF89a"):
            return None
        flags = data[10]
        pos = 13
        if flags & 0x80:
            pos += (2 << (flags & 0x07)) * 3
        frames = 0
        while pos < len(data):
            b = data[pos]
            pos += 1
            if b == 0x3B:
                return frames
            if b == 0x21:
                pos += 1
                _, pos = _read_blocks(data, pos)
                continue
            if b != 0x2C:
                return None
            iflags = data[pos + 8]
            pos += 9
            if iflags & 0x80:
                pos += (2 << (iflags & 0x07)) * 3
            pos += 1  # min code size
            _, pos = _read_blocks(data, pos)
            frames += 1
        return None
    except Exception:
        return None


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW encoder (dict-of-bytes, clear at start and on table
    overflow) — the standard-conformant counterpart of _lzw_decode."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear, width)
    run = b""
    for byte in indices:
        cand = run + bytes([byte])
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        if next_code < 4096:
            table[cand] = next_code
            # width grows when the NEXT code would not fit (encoder side
            # mirrors the decoder's len(table)==1<<width check)
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:  # table full: reset, like real encoders
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        run = bytes([byte])
    if run:
        emit(table[run], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def synth_gif(
    width: int,
    height: int,
    fill_rgb: tuple[int, int, int],
    interlace: bool = False,
    frames: int = 1,
) -> bytes:
    """A correct GIF89a: 4-entry global color table (fill, white, 2
    padding), constant fill with one white top-left pixel, LZW pixel data
    in 255-byte sub-blocks, optional interlaced row order. frames > 1
    appends extra full-size image descriptors, each with a LOCAL color
    table whose fill is rotated by 37*f per channel (frame 0 keeps the
    global table, so first-frame decodes are unchanged). Deterministic
    bytes."""

    def frame_pixels() -> bytes:
        idx = np.zeros((height, width), dtype=np.uint8)
        if width and height:
            idx[0, 0] = 1
        if interlace:
            h = height
            order = (
                list(range(0, h, 8))
                + list(range(4, h, 8))
                + list(range(2, h, 4))
                + list(range(1, h, 2))
            )
            idx = idx[order]
        lzw = _lzw_encode(idx.tobytes(), 2)
        blocks = bytearray()
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            blocks.append(len(chunk))
            blocks.extend(chunk)
        blocks.append(0)
        return bytes([2]) + bytes(blocks)  # LZW min code size + sub-blocks

    def palette_for(f: int) -> bytes:
        fill = bytes((c + 37 * f) % 256 for c in fill_rgb)
        return fill + b"\xff\xff\xff" + b"\x00\x00\x00" * 2

    out = bytearray(
        b"GIF89a"
        + struct.pack("<HHBBB", width, height, 0x80 | 0x01, 0, 0)  # GCT, 4 colors
        + palette_for(0)
    )
    body = frame_pixels()
    for f in range(max(1, frames)):
        iflags = 0x40 if interlace else 0
        if f > 0:
            iflags |= 0x80 | 0x01  # local color table, 4 colors
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, iflags)
        if f > 0:
            out += palette_for(f)
        out += body
    out += b"\x3b"
    return bytes(out)
