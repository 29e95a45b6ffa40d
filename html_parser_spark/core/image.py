"""Minimal pure-Python image decode + synthesis (stdlib + numpy only).

The multimodal branch treats media as opaque binary columns; this module
makes the DECODE step real for the formats a pure-Python kernel can
honestly handle:

- 24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up or top-down), from
  the public BMP file-format layout;
- 8-bit non-interlaced truecolor PNG (RGB and RGBA) — PNG's compression is
  zlib, which IS in the stdlib, so a full decode (chunk walk, IHDR,
  concatenated IDAT inflate, all five scanline filters incl. Paeth) needs
  no external codec. Palette/16-bit/interlaced PNGs return None.

Genuinely codec-bound formats (JPEG/GIF/...) require libraries not in this
container; `sniff_format` routes them to an explicit 'codec_unavailable'
outcome instead of a fake decode.

Matching writers (`synth_bmp`, `synth_png`) emit correct deterministic
files so fixtures and the gate queries exercise the decoders end-to-end
(the PNG writer cycles through all five filter types row by row), and
`resize_nearest` provides the standard thumbnail step as pure arithmetic.
"""

from __future__ import annotations

import struct
import zlib
from typing import Optional

import numpy as np


def sniff_format(data: bytes) -> str:
    """'bmp' | 'jpeg' | 'png' | 'gif' | 'unknown' from magic bytes."""
    if data[:2] == b"BM":
        return "bmp"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    return "unknown"


def decode_bmp(data: bytes) -> Optional[np.ndarray]:
    """24-bit uncompressed BMP -> HxWx3 uint8 RGB array (row 0 = top).
    Returns None for anything malformed/unsupported (never raises)."""
    try:
        if data[:2] != b"BM" or len(data) < 54:
            return None
        pixel_off = struct.unpack_from("<I", data, 10)[0]
        header_size = struct.unpack_from("<I", data, 14)[0]
        if header_size < 40:  # BITMAPCOREHEADER etc. unsupported
            return None
        width, height = struct.unpack_from("<ii", data, 18)
        planes, bpp = struct.unpack_from("<HH", data, 26)
        compression = struct.unpack_from("<I", data, 30)[0]
        if planes != 1 or bpp != 24 or compression != 0 or width <= 0:
            return None
        bottom_up = height > 0
        height = abs(height)
        if not height or width > 1 << 20 or height > 1 << 20:
            return None
        stride = (width * 3 + 3) & ~3  # rows pad to 4 bytes
        need = pixel_off + stride * height
        if len(data) < need:
            return None
        rows = np.frombuffer(
            data, dtype=np.uint8, count=stride * height, offset=pixel_off
        ).reshape(height, stride)[:, : width * 3]
        img = rows.reshape(height, width, 3)[:, :, ::-1]  # BGR -> RGB
        if bottom_up:
            img = img[::-1]
        return np.ascontiguousarray(img)
    except Exception:
        return None


# Adam7 pass geometry: (x_start, y_start, x_step, y_step)
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _unfilter(raw: bytes, h: int, w: int, bpp: int) -> Optional[np.ndarray]:
    """One PNG sub-image's scanlines (filter byte + w*bpp bytes per row) ->
    (h, w*bpp) reconstructed bytes, or None on a bad filter type."""
    stride = w * bpp
    if len(raw) != h * (stride + 1):
        return None
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    ftypes, rows = raw[:, 0], raw[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f, row = int(ftypes[y]), rows[y]
        if f == 0:  # None
            rec = row.copy()
        elif f == 1:  # Sub: per-lane prefix sum mod 256
            rec = (
                np.cumsum(row.reshape(w, bpp), axis=0, dtype=np.uint32) % 256
            ).astype(np.uint8).reshape(stride)
        elif f == 2:  # Up
            rec = row + prev
        elif f in (3, 4):  # Average / Paeth: sequential left dependency —
            # a plain-int byte loop beats numpy here (tiny-array ops are
            # overhead-bound; measured ~3x on fixture-sized rows)
            rowb = row.tobytes()
            prevb = prev.tobytes()
            buf = bytearray(stride)
            for i in range(stride):
                a = buf[i - bpp] if i >= bpp else 0
                b = prevb[i]
                if f == 3:
                    pred = (a + b) >> 1
                else:
                    c = prevb[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa = p - a if p >= a else a - p
                    pb = p - b if p >= b else b - p
                    pc = p - c if p >= c else c - p
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                buf[i] = (rowb[i] + pred) & 0xFF
            rec = np.frombuffer(bytes(buf), dtype=np.uint8)
        else:
            return None
        out[y] = rec
        prev = rec
    return out


def decode_png(data: bytes) -> Optional[np.ndarray]:
    """8-bit PNG -> HxWx{3,4} uint8 array (row 0 = top): truecolor RGB/RGBA,
    8-bit palette (PLTE lookup -> RGB), non-interlaced or Adam7-interlaced
    (each of the 7 passes unfiltered as its own sub-image, then scattered by
    the pass geometry). Full spec path for that class: chunk walk with CRC
    verification, concatenated-IDAT zlib inflate, and all five scanline
    filters (None/Sub/Up/Average/Paeth). Sub-8-bit and 16-bit depths return
    None (honest unsupported, not a guess); any malformed input returns
    None (never raises)."""
    try:
        if data[:8] != b"\x89PNG\r\n\x1a\n":
            return None
        pos, ihdr, idat, plte, ended = 8, None, [], None, False
        while pos + 8 <= len(data):
            (length,) = struct.unpack_from(">I", data, pos)
            ctype = data[pos + 4 : pos + 8]
            body = data[pos + 8 : pos + 8 + length]
            if len(body) != length or pos + 12 + length > len(data):
                return None
            (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
            if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
                return None
            if ctype == b"IHDR":
                ihdr = body
            elif ctype == b"IDAT":
                idat.append(body)
            elif ctype == b"PLTE":
                if length % 3:
                    return None
                plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
            elif ctype == b"IEND":
                ended = True
                break
            pos += 12 + length
        if ihdr is None or not idat or not ended:
            return None
        w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
        if depth != 8 or color not in (2, 3, 6) or comp or filt or interlace > 1:
            return None
        if color == 3 and plte is None:
            return None
        if not w or not h or w > 1 << 20 or h > 1 << 20:
            return None
        bpp = {2: 3, 3: 1, 6: 4}[color]
        raw = zlib.decompress(b"".join(idat))
        if interlace == 0:
            rec = _unfilter(raw, h, w, bpp)
            if rec is None:
                return None
            out = rec.reshape(h, w, bpp)
        else:  # Adam7: 7 independently-filtered sub-images
            out = np.zeros((h, w, bpp), dtype=np.uint8)
            off = 0
            for x0, y0, dx, dy in _ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                n = ph * (pw * bpp + 1)
                rec = _unfilter(raw[off : off + n], ph, pw, bpp)
                if rec is None:
                    return None
                off += n
                out[y0::dy, x0::dx] = rec.reshape(ph, pw, bpp)
            if off != len(raw):
                return None
        if color == 3:
            idx = out.reshape(h, w)
            if (idx >= len(plte)).any():
                return None
            return np.ascontiguousarray(plte[idx])
        return out
    except Exception:
        return None


def synth_png(
    width: int,
    height: int,
    fill_rgb: tuple[int, int, int],
    rgba: bool = False,
) -> bytes:
    """A correct 8-bit truecolor PNG (RGB, or RGBA with opaque alpha):
    constant fill, one white pixel at (0, 0). Row y uses filter
    type y % 5, so a round-trip exercises every unfilter path (incl. the
    Paeth corner cases). Deterministic bytes (fixed-level zlib)."""
    bpp = 4 if rgba else 3
    img = np.zeros((height, width, bpp), dtype=np.uint8)
    img[:, :, :3] = fill_rgb
    if rgba:
        img[:, :, 3] = 255
    if width and height:
        img[0, 0, :3] = (255, 255, 255)
    flat = img.reshape(height, width * bpp)
    lines = []
    prev = np.zeros(width * bpp, dtype=np.uint8)
    for y in range(height):
        f = y % 5
        rec = flat[y]
        recpx = rec.reshape(width, bpp)
        if f == 0:
            enc = rec.copy()
        elif f == 1:  # Sub
            enc = recpx.astype(np.int16).copy()
            enc[1:] -= recpx[:-1].astype(np.int16)
            enc = (enc % 256).astype(np.uint8).reshape(width * bpp)
        elif f == 2:  # Up
            enc = rec - prev
        else:  # Average (3) / Paeth (4): plain-int byte loop (see decode)
            stride = width * bpp
            recb = rec.tobytes()
            prevb = prev.tobytes()
            buf = bytearray(stride)
            for i in range(stride):
                a = recb[i - bpp] if i >= bpp else 0
                b = prevb[i]
                if f == 3:
                    pred = (a + b) >> 1
                else:
                    c = prevb[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa = p - a if p >= a else a - p
                    pb = p - b if p >= b else b - p
                    pc = p - c if p >= c else c - p
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                buf[i] = (recb[i] - pred) & 0xFF
            enc = np.frombuffer(bytes(buf), dtype=np.uint8)
        lines.append(bytes([f]) + enc.tobytes())
        prev = rec

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 6 if rgba else 2, 0, 0, 0)
    idat = zlib.compress(b"".join(lines), 6)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize (the thumbnail step), pure index arithmetic:
    source index = floor(i * src / dst) — deterministic across platforms."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return img[ys][:, xs]


def synth_bmp(width: int, height: int, fill_rgb: tuple[int, int, int]) -> bytes:
    """A correct bottom-up 24-bit BMP: constant fill color, one white
    pixel at (0, 0) top-left (so decoders that flip rows or swap
    channels fail the tests loudly). Deterministic bytes."""
    stride = (width * 3 + 3) & ~3
    img = np.zeros((height, width, 3), dtype=np.uint8)
    img[:, :] = fill_rgb
    if width and height:
        img[0, 0] = (255, 255, 255)
    rows = np.zeros((height, stride), dtype=np.uint8)
    rows[:, : width * 3] = img[::-1, :, ::-1].reshape(height, width * 3)  # RGB->BGR, bottom-up
    pixels = rows.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + pixels
