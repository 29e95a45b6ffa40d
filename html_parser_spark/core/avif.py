"""AVIF (ISO-BMFF / HEIF) container: deterministic synthesis + a
header-only walk.

AVIF is the other post-JPEG image format real web corpora carry in bulk
(alongside WebP, core/webp.py). Like the MP4 walk (core/av.py — AVIF and
MP4 share the ISO base-media box grammar and one box walker,
core/av.walk_boxes), everything a metadata pass
needs lives in the `ftyp` and `meta` boxes at the front of the file:
brand, item layout, spatial extents, bit depth, rotation, alpha
auxiliary. The AV1 coefficient payload in `mdat` is a genuine codec seam
(entropy-coded, same class as MP3/H.264 payloads — operators/
multimodal.py documents the seam policy) and is never read: the walk is
a bounded range-read per object at 100 TB.

Box facts used (all public: ISO/IEC 14496-12 for the box/meta grammar,
AV1 Image File Format spec for avif brands and the av1C/auxC bindings):
  * Box = u32be size + fourcc (+ u64 largesize when size == 1; size == 0
    means "to end of file"). FullBox adds u8 version + u24 flags.
  * `ftyp`: major_brand + minor_version + compatible brands.
  * `meta` (FullBox) children: `hdlr` (handler 'pict'), `pitm` (primary
    item), `iinf`/`infe` (item inventory; v2 infe carries a fourcc item
    type, 'av01' for AV1 images), `iprp` -> `ipco` (property container:
    `ispe` spatial extents, `pixi` bits per channel, `av1C` codec
    config, `irot` rotation, `auxC` auxiliary-type URN for alpha) +
    `ipma` (item->property associations), `iloc` (item extents:
    offset/length pairs into `mdat`).
  * Alpha in AVIF is a SECOND item whose `auxC` property carries the
    URN "urn:mpeg:mpegB:cicp:systems:auxiliary:alpha".
"""

from __future__ import annotations

import struct
from typing import Optional

from .av import box, find_box, walk_boxes

_ALPHA_URN = b"urn:mpeg:mpegB:cicp:systems:auxiliary:alpha\x00"


def _full(four: bytes, body: bytes, version: int = 0, flags: int = 0) -> bytes:
    return box(four, bytes([version]) + flags.to_bytes(3, "big") + body)


def synth_avif(
    width: int,
    height: int,
    *,
    bit_depth: int = 8,
    rotation: int = 0,
    alpha: int = 0,
    filler: int = 0,
    alpha_filler: int = 0,
) -> bytes:
    """A spec-correct single-image AVIF file. The layout is FIXED given
    the arguments, so every reported field has a closed form the DuckDB
    oracle can state (box sizes: ftyp 24, hdlr 33, pitm 14, infe 21,
    ispe 20, pixi 16, av1C 12, irot 9, auxC 56, iloc 16+14n,
    ipma 16+7+5*alpha), giving
      file_bytes = 252 + filler                 (no alpha)
                 = 348 + filler + alpha_filler  (alpha)
    `filler` / `alpha_filler` are deterministic junk AV1 payload bytes in
    `mdat` — the walk must trust the box size fields, not a fixed layout.
    `rotation` is the irot angle in counter-clockwise quarter turns
    (0..3); `bit_depth` goes into pixi for all 3 channels."""
    n_items = 1 + (1 if alpha else 0)
    ftyp = box(b"ftyp", b"avif" + struct.pack(">I", 0) + b"avif" + b"mif1")

    hdlr = _full(b"hdlr", struct.pack(">I", 0) + b"pict" + b"\x00" * 12 + b"\x00")
    pitm = _full(b"pitm", struct.pack(">H", 1))

    infes = _full(b"infe", struct.pack(">HH", 1, 0) + b"av01" + b"\x00", version=2)
    if alpha:
        infes += _full(
            b"infe", struct.pack(">HH", 2, 0) + b"av01" + b"\x00", version=2
        )
    iinf = _full(b"iinf", struct.pack(">H", n_items) + infes)

    props = _full(b"ispe", struct.pack(">II", width, height))
    props += _full(b"pixi", bytes([3, bit_depth, bit_depth, bit_depth]))
    # marker 0x81 + seq_profile/level byte + two flag bytes: a header walk
    # reports presence (codec binding), never decodes the config
    props += box(b"av1C", bytes([0x81, 0x00, 0x00, 0x00]))
    props += box(b"irot", bytes([rotation & 3]))
    if alpha:
        props += _full(b"auxC", _ALPHA_URN)
    ipco = box(b"ipco", props)

    # associations: item 1 -> ispe,pixi,av1C,irot; item 2 -> ispe,auxC
    entries = struct.pack(">H", 1) + bytes([4, 1, 2, 3, 4])
    if alpha:
        entries += struct.pack(">H", 2) + bytes([2, 1, 5])
    ipma = _full(b"ipma", struct.pack(">I", n_items) + entries)
    iprp = box(b"iprp", ipco + ipma)

    def iloc_box(offsets_lengths):
        body = bytes([0x44, 0x00]) + struct.pack(">H", len(offsets_lengths))
        for item_id, (off, ln) in enumerate(offsets_lengths, start=1):
            body += struct.pack(">HHHII", item_id, 0, 1, off, ln)
        return _full(b"iloc", body)

    extents = [(0, filler)] + ([(0, alpha_filler)] if alpha else [])
    meta_children = hdlr + pitm + iinf + iprp + iloc_box(extents)
    meta_size = 12 + len(meta_children)
    mdat_payload_start = len(ftyp) + meta_size + 8

    extents = [(mdat_payload_start, filler)]
    if alpha:
        extents = [(mdat_payload_start, filler),
                   (mdat_payload_start + filler, alpha_filler)]
    meta = _full(b"meta", hdlr + pitm + iinf + iprp + iloc_box(extents))
    assert len(meta) == meta_size

    payload = bytes((3 * i + 7) % 256 for i in range(filler))
    if alpha:
        payload += bytes((11 * i + 5) % 256 for i in range(alpha_filler))
    return ftyp + meta + box(b"mdat", payload)


def avif_info(data: bytes) -> Optional[dict]:
    """Header-only walk -> {brand, codec, width, height, bit_depth,
    rotation, n_items, has_alpha, mdat_bytes, file_bytes} or None when
    the bytes are not a parseable AVIF (no leading ftyp, non-avif major
    brand, or no meta box). Reads ONLY ftyp + meta + the mdat size field;
    AV1 payloads are never touched. Missing optional properties degrade
    to None fields (never a raised exception mid-scan); file_bytes is the
    sum of the top-level box size fields — the container's own
    accounting, which a range-reader trusts over the blob length."""
    if len(data) < 16:
        return None
    first = next(walk_boxes(data, 0, len(data)), None)
    if first is None or first[0] != b"ftyp" or first[2] - first[1] < 8:
        return None
    brand = data[first[1] : first[1] + 4]
    try:
        brand_s = brand.decode("ascii")
    except UnicodeDecodeError:
        return None
    if brand not in (b"avif", b"avis"):
        return None

    out = {
        "brand": brand_s, "codec": None, "width": None, "height": None,
        "bit_depth": None, "rotation": None, "n_items": None,
        "has_alpha": 0, "mdat_bytes": None, "file_bytes": 0,
    }
    meta_span = None
    for four, b, e in walk_boxes(data, 0, len(data)):
        # top-level boxes are contiguous from offset 0, so the container's
        # own accounting of total length is the last box's end offset
        out["file_bytes"] = e
        if four == b"meta" and meta_span is None and e - b >= 4:
            meta_span = (b + 4, e)  # skip FullBox version+flags
        elif four == b"mdat" and out["mdat_bytes"] is None:
            out["mdat_bytes"] = e - b
    if meta_span is None:
        return None
    ms, me = meta_span

    iinf = find_box(data, ms, me, b"iinf")
    if iinf is not None and iinf[1] - iinf[0] >= 6:
        version = data[iinf[0]]
        if version == 0:
            out["n_items"] = struct.unpack_from(">H", data, iinf[0] + 4)[0]
        else:
            out["n_items"] = struct.unpack_from(">I", data, iinf[0] + 4)[0]

    iprp = find_box(data, ms, me, b"iprp")
    if iprp is not None:
        ipco = find_box(data, iprp[0], iprp[1], b"ipco")
        if ipco is not None:
            for four, b, e in walk_boxes(data, ipco[0], ipco[1]):
                if four == b"ispe" and e - b >= 12 and out["width"] is None:
                    out["width"], out["height"] = struct.unpack_from(
                        ">II", data, b + 4
                    )
                elif four == b"pixi" and e - b >= 6 and out["bit_depth"] is None:
                    out["bit_depth"] = data[b + 5]
                elif four == b"av1C" and e - b >= 1:
                    out["codec"] = "av01"
                elif four == b"irot" and e - b >= 1:
                    out["rotation"] = data[b] & 3
                elif four == b"auxC" and e - b >= 4:
                    urn = data[b + 4 : e]
                    if urn.startswith(_ALPHA_URN[:-1]):
                        out["has_alpha"] = 1
    return out
