"""Minimal pure-Python audio/video decode + synthesis (stdlib + numpy).

Same policy as core/image.py: the decode step is REAL for the uncompressed
formats a pure-Python kernel can honestly handle —

  audio:  WAV / RIFF PCM (16-bit LE): fmt-chunk walk, sample-rate /
          channels / sample-count, integer absolute-energy sum
  video:  YUV4MPEG2 (.y4m): header parse, frame indexing by fixed 4:2:0
          frame size, FRAME-SAMPLING by plain offset arithmetic (every
          k-th frame without touching the others — the property that
          matters at scale), per-frame luma sums

Compressed codecs (MP3/AAC/H.264/...) require codec libraries absent from
this container and are routed to explicit 'codec_unavailable' outcomes by
the operators. Writers emit correct deterministic bytes for fixtures and
the gate oracles.
"""

from __future__ import annotations

import struct
from typing import Optional

import numpy as np

# ---------------------------------------------------------------------------
# WAV (RIFF PCM)
# ---------------------------------------------------------------------------


def decode_wav(data: bytes) -> Optional[dict]:
    """RIFF/WAVE PCM16 -> {rate, channels, n_samples, sum_abs}; None for
    malformed/unsupported input (never raises). sum_abs is the integer sum
    of |sample| over all channels — the oracle-able energy feature."""
    try:
        if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
            return None
        pos = 12
        fmt = None
        pcm = None
        while pos + 8 <= len(data):
            cid = data[pos : pos + 4]
            size = struct.unpack_from("<I", data, pos + 4)[0]
            body = data[pos + 8 : pos + 8 + size]
            if cid == b"fmt ":
                fmt = body
            elif cid == b"data":
                pcm = body
            pos += 8 + size + (size & 1)  # chunks pad to even
        if fmt is None or pcm is None or len(fmt) < 16:
            return None
        audio_fmt, channels, rate = struct.unpack_from("<HHI", fmt, 0)
        bits = struct.unpack_from("<H", fmt, 14)[0]
        if audio_fmt != 1 or bits != 16 or not channels:
            return None  # only uncompressed PCM16
        samples = np.frombuffer(pcm, dtype="<i2", count=len(pcm) // 2)
        return {
            "rate": int(rate),
            "channels": int(channels),
            "n_samples": len(samples) // channels,
            "sum_abs": int(np.abs(samples.astype(np.int64)).sum()),
        }
    except Exception:
        return None


def synth_wav(
    n_samples: int, rate: int, amplitude: int, channels: int = 1
) -> bytes:
    """A correct PCM16 WAV: a +A/-A square wave (period 2) per channel —
    sum_abs has the closed form amplitude * n_samples * channels."""
    samples = np.empty(n_samples * channels, dtype="<i2")
    wave = np.where(np.arange(n_samples) % 2 == 0, amplitude, -amplitude)
    for c in range(channels):
        samples[c::channels] = wave
    pcm = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    out = b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm)) + b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(pcm)) + pcm
    return out


# ---------------------------------------------------------------------------
# YUV4MPEG2 (y4m) — uncompressed video, 4:2:0
# ---------------------------------------------------------------------------


def _y4m_header(data: bytes) -> Optional[tuple[int, int, int]]:
    """(width, height, header_end) from the YUV4MPEG2 stream header."""
    if not data.startswith(b"YUV4MPEG2"):
        return None
    nl = data.find(b"\n")
    if nl < 0:
        return None
    w = h = None
    for tok in data[9:nl].split(b" "):
        if tok.startswith(b"W"):
            w = int(tok[1:])
        elif tok.startswith(b"H"):
            h = int(tok[1:])
    if not w or not h or w % 2 or h % 2:
        return None
    return w, h, nl + 1


def y4m_info(data: bytes) -> Optional[dict]:
    """{width, height, n_frames} by offset arithmetic (no frame decode)."""
    hd = _y4m_header(data)
    if hd is None:
        return None
    w, h, pos = hd
    frame_bytes = 6 + w * h * 3 // 2  # b'FRAME\n' + Y + U + V (4:2:0)
    n = (len(data) - pos) // frame_bytes
    return {"width": w, "height": h, "n_frames": n}


def y4m_sample_frames(data: bytes, every: int = 1) -> Optional[list[dict]]:
    """Frame-sample a y4m stream: decode ONLY every `every`-th frame (pure
    offset seek — untouched frames cost nothing), returning per-sampled-
    frame {frame, sum_y} (integer luma-plane sum). None if malformed."""
    hd = _y4m_header(data)
    if hd is None or every < 1:
        return None
    w, h, pos = hd
    ysz = w * h
    frame_bytes = 6 + ysz * 3 // 2
    out = []
    idx = 0
    while pos + frame_bytes <= len(data):
        if idx % every == 0:
            if data[pos : pos + 6] != b"FRAME\n":
                return None
            y = np.frombuffer(data, dtype=np.uint8, count=ysz, offset=pos + 6)
            out.append({"frame": idx, "sum_y": int(y.astype(np.int64).sum())})
        pos += frame_bytes
        idx += 1
    return out


def synth_y4m(width: int, height: int, lumas: list[int]) -> bytes:
    """A correct YUV4MPEG2 stream: one constant-luma frame per entry (U=V=
    128) — sampled-frame sum_y has the closed form luma * width * height."""
    out = bytearray(b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420\n" % (width, height))
    csz = (width // 2) * (height // 2)
    for luma in lumas:
        out += b"FRAME\n"
        out += bytes([luma]) * (width * height)
        out += b"\x80" * (2 * csz)
    return bytes(out)


# ---------------------------------------------------------------------------
# MP3 (MPEG-1 Layer III) — frame-HEADER walk: container-level metadata
# ---------------------------------------------------------------------------
# The frame *payloads* are Huffman-coded subband data that honestly needs a
# codec (still routed to 'codec_unavailable' by audio_features); the frame
# STRUCTURE is plain arithmetic over 4-byte headers, so duration / bitrate /
# frame count are exact without decoding a single sample — the metadata a
# corpus profiler needs, at seek-only cost.

_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_MP3_RATES = (44100, 48000, 32000)
_MP3_SAMPLES_PER_FRAME = 1152


def _id3v2_size(data: bytes) -> int:
    """Bytes to skip for a leading ID3v2 tag (0 if none): 10-byte header
    whose size field is four 7-bit 'syncsafe' bytes."""
    if data[:3] != b"ID3" or len(data) < 10:
        return 0
    if any(b & 0x80 for b in data[6:10]):
        return 0  # malformed syncsafe
    return 10 + ((data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9])


def mp3_info(data: bytes) -> Optional[dict]:
    """Walk MPEG-1 Layer III frame headers -> {bitrate_kbps (first frame),
    sample_rate, n_frames, duration_us, n_bytes, has_id3, is_cbr}. Frames
    are stepped by the header's own length formula
    (144000 * kbps / rate + padding); a non-MPEG1-L3 or invalid header ends
    the walk. None when no valid frame exists. Never raises."""
    try:
        skip = _id3v2_size(data)
        pos = skip
        n = 0
        first_kbps = None
        rate = None
        cbr = True
        while pos + 4 <= len(data):
            h = int.from_bytes(data[pos : pos + 4], "big")
            if (h >> 21) != 0x7FF:
                break
            if (h >> 19) & 3 != 3 or (h >> 17) & 3 != 1:
                break  # MPEG-1 Layer III only
            bi = (h >> 12) & 0xF
            ri = (h >> 10) & 3
            if bi in (0, 15) or ri == 3:
                break  # 'free'/bad bitrate or reserved rate
            kbps = _MP3_BITRATES[bi]
            r = _MP3_RATES[ri]
            if first_kbps is None:
                first_kbps, rate = kbps, r
            elif kbps != first_kbps:
                cbr = False
            if r != rate:
                break  # rate switch mid-stream: treat as end
            flen = 144_000 * kbps // r + ((h >> 9) & 1)
            if flen <= 4 or pos + flen > len(data):
                break
            pos += flen
            n += 1
        if n == 0 or rate is None:
            return None
        return {
            "bitrate_kbps": first_kbps,
            "sample_rate": rate,
            "n_frames": n,
            "duration_us": n * _MP3_SAMPLES_PER_FRAME * 1_000_000 // rate,
            "n_bytes": pos - skip,
            "has_id3": 1 if skip else 0,
            "is_cbr": 1 if cbr else 0,
        }
    except Exception:
        return None


def _syncsafe(n: int) -> bytes:
    return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])


def synth_id3v2(fields: dict, version: int = 4, encoding: int = 3,
                padding: int = 0) -> bytes:
    """A spec-correct ID3v2.3 or v2.4 tag holding text frames
    (id3.org/id3v2.4.0-structure): 10-byte header with syncsafe tag size;
    per frame a 4-char id, size (SYNCSAFE in v2.4, plain 32-bit in v2.3),
    2 flag bytes, then an encoding byte + the text. encoding: 0 latin-1,
    1 UTF-16 with BOM, 3 UTF-8 (v2.4 only in the spec; the walker accepts
    any). Deterministic bytes."""
    assert version in (3, 4)
    body = bytearray()
    for fid, text in fields.items():
        if encoding == 0:
            payload = bytes([0]) + text.encode("latin-1")
        elif encoding == 1:
            payload = bytes([1]) + b"\xff\xfe" + text.encode("utf-16-le")
        else:
            payload = bytes([3]) + text.encode("utf-8")
        size = _syncsafe(len(payload)) if version == 4 else len(payload).to_bytes(4, "big")
        body += fid.encode("ascii") + size + b"\x00\x00" + payload
    body += b"\x00" * padding
    return b"ID3" + bytes([version, 0, 0]) + _syncsafe(len(body)) + bytes(body)


def id3v2_text_frames(data: bytes) -> Optional[dict]:
    """Parse a leading ID3v2.3/2.4 tag's TEXT frames (ids starting 'T')
    -> {"version": 3|4, "tag_bytes": total incl header,
        "frames": {id: decoded text}}. Latin-1 / UTF-16-BOM / UTF-8
    encodings handled; unknown frame ids are kept (they are still text
    frames if they start with T), non-text frames skipped by size;
    padding or malformed data ends the walk. None when no tag. Header
    cost only — like mp3_info, audio payload is never touched."""
    try:
        if data[:3] != b"ID3" or len(data) < 10:
            return None
        version = data[3]
        if version not in (3, 4) or any(b & 0x80 for b in data[6:10]):
            return None
        size = (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
        end = min(10 + size, len(data))
        frames: dict = {}
        pos = 10
        while pos + 10 <= end:
            fid = data[pos : pos + 4]
            if fid[0] == 0:  # padding
                break
            raw = data[pos + 4 : pos + 8]
            if version == 4:
                if any(b & 0x80 for b in raw):
                    break
                flen = (raw[0] << 21) | (raw[1] << 14) | (raw[2] << 7) | raw[3]
            else:
                flen = int.from_bytes(raw, "big")
            body = data[pos + 10 : pos + 10 + flen]
            if len(body) != flen:
                break
            if fid[:1] == b"T" and flen >= 1:
                enc, txt = body[0], body[1:]
                if enc == 0:
                    s = txt.decode("latin-1", errors="replace")
                elif enc == 1:
                    s = txt.decode("utf-16", errors="replace")
                elif enc == 2:
                    s = txt.decode("utf-16-be", errors="replace")
                elif enc == 3:
                    s = txt.decode("utf-8", errors="replace")
                else:
                    s = ""
                frames[fid.decode("ascii", errors="replace")] = s.rstrip("\x00")
            pos += 10 + flen
        return {"version": int(version), "tag_bytes": 10 + size, "frames": frames}
    except Exception:
        return None


def synth_mp3(
    n_frames: int,
    bitrate_idx: int,
    rate_idx: int,
    id3_size: Optional[int] = None,
) -> bytes:
    """A structurally correct CBR MPEG-1 Layer III stream: real headers,
    zeroed payloads (deliberately NOT decodable audio — the walker never
    reads payload bytes). Closed forms: frame_len = 144000*kbps//rate,
    duration_us = n_frames*1152*1e6//rate."""
    kbps = _MP3_BITRATES[bitrate_idx]
    rate = _MP3_RATES[rate_idx]
    out = bytearray()
    if id3_size is not None:
        out += b"ID3\x04\x00\x00" + bytes(
            [(id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
             (id3_size >> 7) & 0x7F, id3_size & 0x7F]
        )
        out += b"\x00" * id3_size
    # sync(11) ver=11 layer=01 noprot=1 | bitrate rate pad=0 priv=0 | rest 0
    hdr = bytes([0xFF, 0xFB, (bitrate_idx << 4) | (rate_idx << 2), 0x00])
    flen = 144_000 * kbps // rate
    frame = hdr + b"\x00" * (flen - 4)
    for _ in range(n_frames):
        out += frame
    return bytes(out)


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF — box-tree walk: container-level metadata
# ---------------------------------------------------------------------------
# Same honesty line: sample DATA is H.264/AAC (codec_unavailable); the box
# TREE (ISO/IEC 14496-12) is pure structure. A walker that never touches
# mdat gives brand / duration / track dims / sample count at header cost —
# on object storage that is a few range-reads regardless of file size.


def walk_boxes(data: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for each box in [start, end);
    handles 64-bit largesize and size=0 (to end). Degrades, never raises:
    a truncated box, or one whose size does not cover its own header,
    ends the walk."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", data, pos)
        four = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                return
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            return
        yield four, body, pos + size
        pos += size


def find_box(data: bytes, start: int, end: int, four: bytes):
    for f, b, e in walk_boxes(data, start, end):
        if f == four:
            return b, e
    return None


def mp4_info(data: bytes) -> Optional[dict]:
    """ISO-BMFF box walk -> {brand, timescale, duration_us, n_tracks,
    width, height, n_samples}. width/height come from the first video
    trak's tkhd (16.16 fixed point); n_samples from its stsz. None when
    there is no moov/mvhd. Never raises; never reads mdat."""
    try:
        if len(data) < 16:
            return None
        brand = ""
        ft = find_box(data, 0, len(data), b"ftyp")
        if ft is not None and ft[1] - ft[0] >= 4:
            brand = data[ft[0] : ft[0] + 4].decode("latin-1").strip()
        mv = find_box(data, 0, len(data), b"moov")
        if mv is None:
            return None
        mh = find_box(data, mv[0], mv[1], b"mvhd")
        if mh is None:
            return None
        ver = data[mh[0]]
        if ver == 1:
            timescale = int.from_bytes(data[mh[0] + 20 : mh[0] + 24], "big")
            duration = int.from_bytes(data[mh[0] + 24 : mh[0] + 32], "big")
        else:
            timescale = int.from_bytes(data[mh[0] + 12 : mh[0] + 16], "big")
            duration = int.from_bytes(data[mh[0] + 16 : mh[0] + 20], "big")
        if not timescale:
            return None
        width = height = n_samples = 0
        n_tracks = 0
        for f, b, e in walk_boxes(data, mv[0], mv[1]):
            if f != b"trak":
                continue
            n_tracks += 1
            tk = find_box(data, b, e, b"tkhd")
            if tk is not None and not width and not height:
                tv = data[tk[0]]
                # width/height follow version+flags(4) + times(8|16) +
                # track_id+reserved(8) + duration(4|8) + reserved(8) +
                # layer/alt/volume/reserved(8) + matrix(36)
                off = tk[0] + (88 if tv == 1 else 76)
                if off + 8 <= tk[1]:
                    w = int.from_bytes(data[off : off + 4], "big") >> 16
                    h = int.from_bytes(data[off + 4 : off + 8], "big") >> 16
                    if w and h:
                        width, height = w, h
            md = find_box(data, b, e, b"mdia")
            if md is not None and not n_samples:
                mi = find_box(data, md[0], md[1], b"minf")
                if mi is not None:
                    st = find_box(data, mi[0], mi[1], b"stbl")
                    if st is not None:
                        sz = find_box(data, st[0], st[1], b"stsz")
                        if sz is not None and sz[1] - sz[0] >= 12:
                            n_samples = int.from_bytes(
                                data[sz[0] + 8 : sz[0] + 12], "big"
                            )
        return {
            "brand": brand,
            "timescale": timescale,
            "duration_us": duration * 1_000_000 // timescale,
            "n_tracks": n_tracks,
            "width": width,
            "height": height,
            "n_samples": n_samples,
        }
    except Exception:
        return None


def box(four: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + four + body


def synth_mp4(
    width: int,
    height: int,
    timescale: int,
    duration: int,
    n_samples: int,
) -> bytes:
    """A structurally correct single-video-track MP4 (ftyp + moov box tree
    + mdat of zeroed 16-byte samples — deliberately NOT decodable media). All
    mp4_info outputs have closed forms in the arguments."""
    mvhd = bytes(12) + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big")
    mvhd += b"\x00\x01\x00\x00" + b"\x01\x00" + bytes(10) + (
        b"\x00\x01\x00\x00" + bytes(12) + b"\x00\x01\x00\x00" + bytes(12)
        + b"\x40\x00\x00\x00"
    ) + bytes(24) + (2).to_bytes(4, "big")
    tkhd = b"\x00\x00\x00\x07" + bytes(8) + (1).to_bytes(4, "big") + bytes(4)
    tkhd += duration.to_bytes(4, "big") + bytes(8) + bytes(4) + bytes(4)
    tkhd += (
        b"\x00\x01\x00\x00" + bytes(12) + b"\x00\x01\x00\x00" + bytes(12)
        + b"\x40\x00\x00\x00"
    )
    tkhd += (width << 16).to_bytes(4, "big") + (height << 16).to_bytes(4, "big")
    mdhd = bytes(12) + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big")
    mdhd += b"\x55\xc4\x00\x00"
    hdlr = bytes(8) + b"vide" + bytes(12) + b"synth\x00"
    stsd = bytes(4) + (0).to_bytes(4, "big")
    stts = bytes(4) + (1).to_bytes(4, "big") + n_samples.to_bytes(4, "big") + (
        max(duration // max(n_samples, 1), 1)
    ).to_bytes(4, "big")
    stsz = bytes(4) + (16).to_bytes(4, "big") + n_samples.to_bytes(4, "big")
    stco = bytes(4) + (0).to_bytes(4, "big")
    stbl = box(b"stsd", stsd) + box(b"stts", stts) + box(b"stsz", stsz) + box(
        b"stco", stco
    )
    minf = box(b"stbl", stbl)
    mdia = box(b"mdhd", mdhd) + box(b"hdlr", hdlr) + box(b"minf", minf)
    trak = box(b"tkhd", tkhd) + box(b"mdia", mdia)
    moov = box(b"mvhd", mvhd) + box(b"trak", trak)
    return (
        box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isomiso2")
        + box(b"moov", moov)
        + box(b"mdat", b"\x00" * (16 * n_samples))
    )
