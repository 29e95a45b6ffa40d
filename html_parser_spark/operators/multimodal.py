"""Multimodal column handling: image/audio/video as opaque `binary` columns
with typed metadata, processed by Arrow-batched kernels.

The DECODE step is REAL for every image format in the corpus model:
24-bit BMP, 8-bit PNG (truecolor/RGBA/palette, plain or Adam7, stdlib
zlib inflate + all five scanline filters) in core/image.py, GIF (pure-Python LZW + interlace,
core/gif.py), and baseline 4:4:4/grayscale JPEG (pure-Python Huffman +
IDCT, core/jpeg.py) — validated end-to-end by the
`multimodal_image_decode` / `multimodal_png_decode` /
`multimodal_gif_decode` / `multimodal_jpeg_decode` gate queries over
synthesized files. JPEG variants beyond the implemented
baseline/progressive decoders (arithmetic coding, fractional sampling
ratios) surface an explicit outcome='codec_unavailable' row — an honest
seam, not a fake decode.

`attach_payload` derives a deterministic 16-byte binary payload per document
(unhex(md5(text))) so the metadata kernel output has a closed-form SQL
oracle; `attach_bmp` synthesizes a real BMP per document the same way.
With real data you'd read the bytes from the lake instead.

Every kernel crosses into Python through operators/arrow_rows.map_rows:
the synthesizers via `_attach` (one payload per document), the decoders
via `_decode` (zero or more rows per payload).
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .arrow_rows import map_rows

MEDIA_META_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("magic", StringType()),  # first 4 bytes, lowercase hex
        StructField("width", IntegerType()),  # stand-in: byte 0
        StructField("height", IntegerType()),  # stand-in: byte 1
        StructField("checksum", LongType()),  # first 4 bytes as big-endian uint32
    ]
)

PAYLOAD_SCHEMA = StructType(
    [StructField("doc_id", StringType()), StructField("payload", BinaryType())]
)


def _md5(text: str) -> bytes:
    return hashlib.md5(text.encode("utf-8")).digest()


def _attach(docs: DataFrame, payload_fn: Callable[[str], bytes]) -> DataFrame:
    """documents -> (doc_id, payload: binary), payload = payload_fn(text)
    with a null text read as ''."""
    return map_rows(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
        lambda doc_id, text: [(str(doc_id), payload_fn(text or ""))],
        PAYLOAD_SCHEMA,
    )


def _decode(
    df: DataFrame, rows_fn: Callable[[bytes], Iterable[tuple]], schema: StructType
) -> DataFrame:
    """(doc_id, payload) -> schema rows: rows_fn(bytes) yields each output
    row after its leading doc_id; a null payload is read as b''."""
    return map_rows(
        df.select("doc_id", "payload"),
        lambda doc_id, p: [
            (str(doc_id),) + row
            for row in rows_fn(bytes(p) if p is not None else b"")
        ],
        schema,
    )


def attach_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload: binary) — deterministic stand-in media bytes."""
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.unhex(F.md5("text")).alias("payload"),
    )


def attach_bmp(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload: binary) with a REAL synthesized BMP
    per document: dimensions and fill color derived from md5(text) (width =
    4 + b0 % 13, height = 4 + b1 % 13, fill RGB = bytes 2..4, one white
    top-left pixel) — deterministic, so the decode output has a closed-form
    SQL oracle."""
    from ..core.image import synth_bmp

    def payload(text):
        b = _md5(text)
        return synth_bmp(4 + b[0] % 13, 4 + b[1] % 13, (b[2], b[3], b[4]))

    return _attach(docs, payload)


def attach_png(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload: binary) with a REAL synthesized PNG per
    document. Params come from a FRESH byte stream md5(text || 'png') — NOT
    from md5(text), whose bytes b0..b12 are already claimed by the BMP/WAV/
    Y4M fixtures (non-overlap rule): width = 4 + c0 % 13, height =
    4 + c1 % 13, fill RGB = c2..c4, RGBA iff c5 is odd (alpha 255), one
    white top-left pixel. Row filters cycle through all five PNG filter
    types, so the gate decodes every unfilter path. Deterministic -> the
    decode output has a closed-form SQL oracle."""
    from ..core.image import synth_png

    def payload(text):
        c = _md5(text + "png")
        return synth_png(
            4 + c[0] % 13, 4 + c[1] % 13, (c[2], c[3], c[4]), rgba=c[5] % 2 == 1
        )

    return _attach(docs, payload)


def attach_gif(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload: binary) with a REAL synthesized GIF
    per document. Params come from the FRESH byte stream md5(text || 'gif')
    (the md5(text) and md5(text||'png') streams are claimed — non-overlap
    rule): width = 4 + d0 % 13, height = 4 + d1 % 13, fill RGB = d2..d4,
    interlaced iff d5 is odd, one white top-left pixel, and 1 + d6 % 4
    animation frames (frame 0 keeps the global palette, so first-frame
    decodes are unchanged; later frames rotate the fill via local color
    tables). Deterministic -> closed-form SQL oracle; interlacing
    exercises the 4-pass reorder."""
    from ..core.gif import synth_gif

    def payload(text):
        d = _md5(text + "gif")
        return synth_gif(
            4 + d[0] % 13,
            4 + d[1] % 13,
            (d[2], d[3], d[4]),
            interlace=d[5] % 2 == 1,
            frames=1 + d[6] % 4,
        )

    return _attach(docs, payload)


def attach_jpeg(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload: binary) with a REAL synthesized
    baseline JPEG per document. Params come from the FRESH byte stream
    md5(text || 'jpg'): width = 8 * (1 + e0 % 6), height = 8 * (1 + e1 % 6)
    (8-multiples keep every block constant — the lossy round trip then has
    the closed form in core/jpeg.py's docstring, so the decode output is
    fully SQL-oracle-checkable INCLUDING channel sums), fill RGB = e2..e4.
    Deterministic bytes."""
    from ..core.jpeg import synth_jpeg

    def payload(text):
        e = _md5(text + "jpg")
        return synth_jpeg(8 * (1 + e[0] % 6), 8 * (1 + e[1] % 6), (e[2], e[3], e[4]))

    return _attach(docs, payload)


def attach_progressive_jpeg(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload: binary) with a REAL synthesized
    PROGRESSIVE (SOF2) JPEG per document: five scans (interleaved DC first
    at Al=1, DC refinement, then one EOB-run AC scan per component).
    Params come from the FRESH byte stream md5(text || 'jpp') (the 'jpg'
    stream is claimed by the baseline fixture — non-overlap rule):
    width = 8 * (1 + f0 % 6), height = 8 * (1 + f1 % 6), fill RGB =
    f2..f4. Same quant tables and rounding contract as synth_jpeg, so the
    decoded output has the SAME closed form as the baseline query — the
    oracle checks the full multi-scan coefficient accumulation end-to-end.
    Deterministic bytes."""
    from ..core.jpeg import synth_progressive_jpeg

    def payload(text):
        f = _md5(text + "jpp")
        return synth_progressive_jpeg(
            8 * (1 + f[0] % 6), 8 * (1 + f[1] % 6), (f[2], f[3], f[4])
        )

    return _attach(docs, payload)


GIF_FRAME_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("outcome", StringType()),  # decoded|undecodable
        StructField("n_frames", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def gif_frame_stats(df: DataFrame) -> DataFrame:
    """Animation metadata over a GIF binary column (mapInArrow): frame
    count WITHOUT decompressing any pixel data (the sub-block walk skips
    payload by length bytes — the property that matters when only the
    k-th frame of a long animation is wanted, like Y4M frame sampling)
    plus first-frame dimensions from a real decode. Malformed payloads
    surface outcome='undecodable', never a stage failure."""
    from ..core.gif import decode_gif, gif_frame_count

    def rows(data):
        nf = gif_frame_count(data)
        img = decode_gif(data) if nf else None
        if nf and img is not None:
            return [("decoded", nf, img.shape[1], img.shape[0])]
        return [("undecodable", 0, 0, 0)]

    return _decode(df, rows, GIF_FRAME_STATS_SCHEMA)


IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("format", StringType()),
        StructField("outcome", StringType()),  # decoded|codec_unavailable|undecodable
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_px", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def image_features(df: DataFrame) -> DataFrame:
    """REAL image decode over a binary column (mapInArrow): BMP, 8-bit
    truecolor PNG, GIF, and baseline JPEG decode to dimensions +
    per-channel pixel sums over RGB (integer-exact — the oracle-able
    feature form of mean color; PNG alpha is excluded from the sums).
    A JPEG beyond the implemented baseline (progressive etc. — the
    variants that genuinely need a codec library) surfaces
    outcome='codec_unavailable'; malformed bytes or unsupported
    depths (sub-8-bit/16-bit PNG) 'undecodable' — the stage never
    fails on bad media."""
    from ..core.gif import decode_gif
    from ..core.image import decode_bmp, decode_png, sniff_format
    from ..core.jpeg import decode_jpeg

    decoders = {"bmp": decode_bmp, "png": decode_png, "gif": decode_gif, "jpeg": decode_jpeg}

    def rows(data):
        fmt = sniff_format(data)
        img = decoders[fmt](data) if fmt in decoders else None
        if img is not None:
            h, w = img.shape[:2]
            sums = img[:, :, :3].reshape(-1, 3).sum(axis=0, dtype="int64")
            return [(fmt, "decoded", w, h, w * h, int(sums[0]), int(sums[1]), int(sums[2]))]
        if fmt == "jpeg":
            return [(fmt, "codec_unavailable", 0, 0, 0, 0, 0, 0)]
        return [(fmt, "undecodable", 0, 0, 0, 0, 0, 0)]

    return _decode(df, rows, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("format", StringType()),
        StructField("outcome", StringType()),
        StructField("rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("sum_abs", LongType()),
    ]
)

_WAV_RATES = (8000, 16000, 44100)


def attach_wav(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload) with a REAL PCM16 WAV per document
    (square wave; rate/channels/length/amplitude from md5(text) bytes 5..8,
    so energy has the closed form amplitude * n_samples * channels)."""
    from ..core.av import synth_wav

    def payload(text):
        b = _md5(text)
        return synth_wav(
            n_samples=500 + 4 * b[5],
            rate=_WAV_RATES[b[6] % 3],
            amplitude=1 + 4 * b[7],
            channels=1 + b[8] % 2,
        )

    return _attach(docs, payload)


def audio_features(df: DataFrame) -> DataFrame:
    """REAL audio decode over a binary column (mapInArrow): RIFF PCM16 WAV
    decodes to rate/channels/sample-count + integer absolute energy; codec
    formats (MP3 magic) surface outcome='codec_unavailable'; garbage
    'undecodable'. The stage never fails on bad media."""
    from ..core.av import decode_wav

    def rows(data):
        d = decode_wav(data)
        if d is not None:
            return [("wav", "decoded", d["rate"], d["channels"], d["n_samples"], d["sum_abs"])]
        if data[:3] == b"ID3" or data[:2] == b"\xff\xfb":
            return [("mp3", "codec_unavailable", 0, 0, 0, 0)]
        return [("unknown", "undecodable", 0, 0, 0, 0)]

    return _decode(df, rows, AUDIO_FEATURES_SCHEMA)


VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("frame", IntegerType()),
        StructField("sum_y", LongType()),
    ]
)


def attach_y4m(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload) with a REAL YUV4MPEG2 stream per
    document (constant-luma frames; dims/frame-count/lumas from md5(text)
    bytes 9..12: luma of frame f = (b12 + 40*f) % 256)."""
    from ..core.av import synth_y4m

    def payload(text):
        b = _md5(text)
        n_frames = 2 + b[9] % 4
        w = 2 * (2 + b[10] % 7)
        h = 2 * (2 + b[11] % 5)
        return synth_y4m(w, h, [(b[12] + 40 * f) % 256 for f in range(n_frames)])

    return _attach(docs, payload)


def video_frame_sample(df: DataFrame, every: int = 2) -> DataFrame:
    """REAL video frame-sampling over a binary column (mapInArrow): every
    `every`-th frame of a y4m stream is decoded (luma-plane integer sum);
    the frames in between are skipped by offset arithmetic — the per-frame
    cost of sampling is paid ONLY for sampled frames, which is the property
    that matters for multi-GB videos. One output row per sampled frame;
    malformed payloads yield zero rows."""
    from ..core.av import y4m_info, y4m_sample_frames

    def rows(data):
        info = y4m_info(data)
        frames = y4m_sample_frames(data, every) if info else None
        if not info or frames is None:
            return []
        return [
            (info["width"], info["height"], info["n_frames"], fr["frame"], fr["sum_y"])
            for fr in frames
        ]

    return _decode(df, rows, VIDEO_FRAME_SCHEMA)


def media_metadata(df: DataFrame) -> DataFrame:
    """Arrow-batched metadata over a binary column, with the deterministic
    stand-in dimensions the closed-form gate reads (width = byte 0, height =
    byte 1); the REAL decode paths are image_features / audio_features /
    video_frame_sample.

    One mapInArrow crossing (map_rows): the bytes move in Arrow batches
    and become Python bytes once per batch. For multi-MB media blobs cap
    the batch bytes with spark.sql.execution.arrow.maxBytesPerBatch (same
    mega-row guidance as the extraction kernel; a record count does not
    bound bytes).
    """

    def rows(b):
        return [
            (
                len(b),
                b[:4].hex(),
                b[0] if b else 0,
                b[1] if len(b) > 1 else 0,
                int.from_bytes(b[:4], "big") if len(b) >= 4 else 0,
            )
        ]

    return _decode(df, rows, MEDIA_META_SCHEMA)


# ---------------------------------------------------------------------------
# MP3 / MP4 container metadata (frame-header + box-tree walks, no codec)
# ---------------------------------------------------------------------------

MP3_META_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("format", StringType()),
        StructField("outcome", StringType()),
        StructField("bitrate_kbps", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("duration_us", LongType()),
        StructField("n_bytes", LongType()),
        StructField("has_id3", IntegerType()),
        StructField("is_cbr", IntegerType()),
    ]
)


def attach_mp3(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload) with a structurally correct CBR
    MPEG-1 Layer III stream per document. Params come from the FRESH
    md5(text || 'mp3') byte stream f0..f4 (hex chars 1-10; per-format
    streams never overlap — FIXTURES.md): n_frames = 3 + f0%6,
    bitrate_idx = 1 + f1%14, rate_idx = f2%3, ID3v2 tag of f4 bytes iff
    f3 is odd."""
    from ..core.av import synth_mp3

    def payload(text):
        b = _md5(text + "mp3")
        return synth_mp3(
            n_frames=3 + b[0] % 6,
            bitrate_idx=1 + b[1] % 14,
            rate_idx=b[2] % 3,
            id3_size=b[4] if b[3] % 2 else None,
        )

    return _attach(docs, payload)


def mp3_frame_stats(df: DataFrame) -> DataFrame:
    """REAL MPEG-1 Layer III frame-header walk over a binary column
    (core/av.mp3_info): bitrate / sample rate / frame count / exact
    duration WITHOUT decoding audio (payload Huffman data still needs a
    codec — audio_features keeps that seam explicit). Malformed input
    degrades to outcome='unparseable'; the stage never fails."""
    from ..core.av import mp3_info

    def rows(data):
        d = mp3_info(data)
        if d is None:
            return [("mp3", "unparseable", 0, 0, 0, 0, 0, 0, 0)]
        return [(
            "mp3", "parsed", d["bitrate_kbps"], d["sample_rate"],
            d["n_frames"], d["duration_us"], d["n_bytes"],
            d["has_id3"], d["is_cbr"],
        )]

    return _decode(df, rows, MP3_META_SCHEMA)


MP4_META_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("format", StringType()),
        StructField("outcome", StringType()),
        StructField("brand", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("timescale", IntegerType()),
        StructField("duration_us", LongType()),
        StructField("n_tracks", IntegerType()),
        StructField("n_samples", IntegerType()),
    ]
)

_MP4_SCALES = (600, 1000, 90000)


def attach_mp4(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload) with a structurally correct
    single-video-track MP4 per document. Params from the FRESH
    md5(text || 'mp4') byte stream g0..g4: width = 16*(1 + g0%40),
    height = 16*(1 + g1%30), timescale = (600,1000,90000)[g2%3],
    duration = 100 + 10*g3 units, n_samples = 1 + g4%50."""
    from ..core.av import synth_mp4

    def payload(text):
        b = _md5(text + "mp4")
        return synth_mp4(
            width=16 * (1 + b[0] % 40),
            height=16 * (1 + b[1] % 30),
            timescale=_MP4_SCALES[b[2] % 3],
            duration=100 + 10 * b[3],
            n_samples=1 + b[4] % 50,
        )

    return _attach(docs, payload)


def mp4_box_stats(df: DataFrame) -> DataFrame:
    """REAL ISO-BMFF box-tree walk over a binary column (core/av.mp4_info):
    brand / duration / track dims / sample count WITHOUT touching mdat —
    at 100 TB this is a handful of range-reads per object, never a full
    scan. Sample DATA stays codec_unavailable territory by design.
    Malformed input degrades to outcome='unparseable'."""
    from ..core.av import mp4_info

    def rows(data):
        d = mp4_info(data)
        if d is None:
            return [("mp4", "unparseable", "", 0, 0, 0, 0, 0, 0)]
        return [(
            "mp4", "parsed", d["brand"], d["width"], d["height"],
            d["timescale"], d["duration_us"], d["n_tracks"],
            d["n_samples"],
        )]

    return _decode(df, rows, MP4_META_SCHEMA)


EXIF_META_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("format", StringType()),
        StructField("outcome", StringType()),  # parsed|no_exif|unparseable
        StructField("byte_order", StringType()),  # II|MM
        StructField("orientation", IntegerType()),
        StructField("make", StringType()),
        StructField("dt", StringType()),  # 'YYYY:MM:DD HH:MM:SS'
        StructField("lat_udeg", LongType()),  # signed micro-degrees
        StructField("lon_udeg", LongType()),
        StructField("n_ifd0", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def attach_exif_jpeg(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload: binary): a REAL baseline JPEG with a
    spec-correct Exif APP1 segment (TIFF IFD0 + GPS sub-IFD) spliced after
    SOI. Params come from TWO fresh byte streams (non-overlap rule):
    e = md5(text||'exif0'): e0 byte order (II/MM), e1 orientation 1..8,
    e2 make 'cam-<hex e2>', e3..e8 datetime (2000+e3%26, 1+e4%12, 1+e5%28,
    e6%24, e7%60, e8%60), e9/e10 dims 8*(1+e%6), e11..e13 fill RGB;
    f = md5(text||'exif1'): f0 lat ref N/S, f1..f3 lat d/m/s
    (%90/%60/%60), f4 lon ref E/W, f5..f7 lon d/m/s (%180/%60/%60).
    Deterministic bytes; both TIFF byte orders exercised across the
    corpus."""
    from ..core.exif import synth_exif_app1
    from ..core.jpeg import synth_jpeg

    def payload(text):
        e = _md5(text + "exif0")
        f = _md5(text + "exif1")
        app1 = synth_exif_app1(
            byte_order="II" if e[0] % 2 == 0 else "MM",
            orientation=1 + e[1] % 8,
            make=f"cam-{e[2]:02x}",
            datetime_str=(
                f"{2000 + e[3] % 26:04d}:{1 + e[4] % 12:02d}:"
                f"{1 + e[5] % 28:02d} {e[6] % 24:02d}:"
                f"{e[7] % 60:02d}:{e[8] % 60:02d}"
            ),
            lat_ref="N" if f[0] % 2 == 0 else "S",
            lat_dms=(f[1] % 90, f[2] % 60, f[3] % 60),
            lon_ref="E" if f[4] % 2 == 0 else "W",
            lon_dms=(f[5] % 180, f[6] % 60, f[7] % 60),
        )
        jpg = synth_jpeg(8 * (1 + e[9] % 6), 8 * (1 + e[10] % 6), (e[11], e[12], e[13]))
        return jpg[:2] + app1 + jpg[2:]

    return _attach(docs, payload)


def exif_meta_stats(df: DataFrame) -> DataFrame:
    """Header-only EXIF walk over a JPEG binary column (core/exif.exif_info):
    orientation / make / timestamp / GPS micro-degrees / SOF dims without
    ever touching entropy-coded data — a bounded range-read per object at
    100 TB, the commonest image-metadata query a training pipeline runs.
    Degrades per row: no JPEG -> 'unparseable', JPEG without an Exif APP1
    -> 'no_exif' (fields null)."""
    from ..core.exif import exif_info

    def rows(data):
        d = exif_info(data)
        if d is None:
            return [("jpeg", "unparseable") + (None,) * 9]
        if d["byte_order"] is None:
            return [("jpeg", "no_exif") + (None,) * 7 + (d["width"], d["height"])]
        return [(
            "jpeg", "parsed", d["byte_order"], d["orientation"],
            d["make"], d["datetime"], d["lat_udeg"],
            d["lon_udeg"], d["n_ifd0"], d["width"], d["height"],
        )]

    return _decode(df, rows, EXIF_META_SCHEMA)


ID3_META_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("format", StringType()),
        StructField("outcome", StringType()),  # parsed|no_tag|unparseable
        StructField("version", IntegerType()),
        StructField("tag_bytes", IntegerType()),
        StructField("title", StringType()),
        StructField("artist", StringType()),
        StructField("album", StringType()),
        StructField("year", IntegerType()),
        StructField("track", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)


def attach_mp3_id3(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload: binary): a real CBR MP3 stream with a
    spec-correct ID3v2 tag prepended. Params from the FRESH stream
    g = md5(text||'id3'): g0 version (2.3/2.4 — plain vs syncsafe frame
    sizes), g1 text encoding (latin-1 / UTF-16-BOM / UTF-8), g2-g3 title
    hex, g4 artist %40, g5 album %12, g6 year 1970+%55 (TDRC in v2.4,
    TYER in v2.3), g7 track 1+%20, g8 padding %50, g9 n_frames 1+%40,
    g10 bitrate_idx 1+%14, g11 rate_idx %3. Deterministic bytes."""
    from ..core.av import synth_id3v2, synth_mp3

    def payload(text):
        g = _md5(text + "id3")
        hx = g.hex()
        ver = 3 if g[0] % 2 == 0 else 4
        fields = {
            "TIT2": f"trk-{hx[4:8]}",
            "TPE1": f"artist-{g[4] % 40}",
            "TALB": f"alb-{g[5] % 12}",
            ("TDRC" if ver == 4 else "TYER"): str(1970 + g[6] % 55),
            "TRCK": str(1 + g[7] % 20),
        }
        tag = synth_id3v2(
            fields, version=ver, encoding=(0, 1, 3)[g[1] % 3], padding=g[8] % 50
        )
        return tag + synth_mp3(1 + g[9] % 40, 1 + g[10] % 14, g[11] % 3)

    return _attach(docs, payload)


def _int_or_none(s):
    try:
        return int(s) if s is not None else None
    except ValueError:
        return None


def id3_meta_stats(df: DataFrame) -> DataFrame:
    """ID3v2 text-frame walk + MP3 frame count over a binary column
    (core/av.id3v2_text_frames + mp3_info) — header-only, audio payload
    never read. Degrades per row: no MP3 stream at all -> 'unparseable';
    a valid stream without a leading tag -> 'no_tag' (tag fields null)."""
    from ..core.av import id3v2_text_frames, mp3_info

    def rows(raw):
        m = mp3_info(raw)
        tag = id3v2_text_frames(raw)
        if m is None and tag is None:
            return [("mp3", "unparseable") + (None,) * 8]
        if tag is None:
            return [("mp3", "no_tag") + (None,) * 7 + (m["n_frames"],)]
        fr = tag["frames"]
        return [(
            "mp3", "parsed", tag["version"], tag["tag_bytes"],
            fr.get("TIT2"), fr.get("TPE1"), fr.get("TALB"),
            _int_or_none(fr.get("TDRC") or fr.get("TYER")),
            _int_or_none(fr.get("TRCK")),
            m["n_frames"] if m else 0,
        )]

    return _decode(df, rows, ID3_META_SCHEMA)


WEBP_META_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("format", StringType()),
        StructField("outcome", StringType()),  # parsed|unparseable
        StructField("variant", StringType()),  # vp8|vp8l|vp8x
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("has_alpha", IntegerType()),
        StructField("has_anim", IntegerType()),
        StructField("has_exif", IntegerType()),
        StructField("has_icc", IntegerType()),
        StructField("has_xmp", IntegerType()),
        StructField("riff_bytes", IntegerType()),
    ]
)


def attach_webp(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload: binary): a spec-correct WebP file
    (core/webp.synth_webp) per document, cycling all three container
    variants across the corpus. Params come from the FRESH stream
    w = md5(text||'webp') (fixture non-overlap rule):
    w0 % 3 variant (0 vp8, 1 vp8l, 2 vp8x);
    width = 1 + w1 + 256*(w2 % 63), height = 1 + w3 + 256*(w4 % 63)
    (14-bit safe); vp8x flags alpha/anim/exif/icc/xmp = w5..w9 % 2;
    vp8l alpha = w5 % 2; filler = w10 % 64 junk payload bytes, so
    riff_bytes has the closed forms
      vp8:  30 + filler + (filler % 2)
      vp8l: 25 + filler + ((5 + filler) % 2)
      vp8x: 48 + filler + (filler % 2)."""
    from ..core.webp import synth_webp

    def payload(text):
        w = _md5(text + "webp")
        return synth_webp(
            ("vp8", "vp8l", "vp8x")[w[0] % 3],
            1 + w[1] + 256 * (w[2] % 63),
            1 + w[3] + 256 * (w[4] % 63),
            alpha=w[5] % 2,
            anim=w[6] % 2,
            exif=w[7] % 2,
            icc=w[8] % 2,
            xmp=w[9] % 2,
            filler=w[10] % 64,
        )

    return _attach(docs, payload)


def webp_meta_stats(df: DataFrame) -> DataFrame:
    """Header-only WebP walk over a binary column (core/webp.webp_info):
    variant / dimensions / VP8X feature flags / container length without
    decoding any coefficient data — a bounded range-read per object at
    100 TB. Non-WebP bytes degrade to 'unparseable' rows (fields null),
    never a raised exception mid-scan."""
    from ..core.webp import webp_info

    def rows(data):
        d = webp_info(data)
        if d is None:
            return [("webp", "unparseable") + (None,) * 9]
        return [(
            "webp", "parsed", d["variant"], d["width"],
            d["height"], d["has_alpha"], d["has_anim"],
            d["has_exif"], d["has_icc"], d["has_xmp"],
            d["riff_bytes"],
        )]

    return _decode(df, rows, WEBP_META_SCHEMA)


WEBP_FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("format", StringType()),
        StructField("outcome", StringType()),  # animated|not_animated|unparseable
        StructField("n_frames", IntegerType()),
        StructField("loop_count", IntegerType()),
        StructField("total_duration_ms", IntegerType()),
        StructField("n_blend", IntegerType()),
        StructField("n_dispose", IntegerType()),
        StructField("sum_xy", IntegerType()),
    ]
)


def attach_webp_anim(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload: binary): a mixed WebP corpus for the
    animation walk — every 5th-ish doc is a STATIC lossy WebP (the walk's
    not-animated path), the rest are animated VP8X+ANIM+ANMF containers.
    Params from TWO fresh streams (fixture non-overlap rule):
    a = md5(text||'webpa'): a0 % 5 = 0 -> static; canvas
    w = 1 + a1 + 256*(a2 % 63), h = 1 + a3 + 256*(a4 % 63); frame
    durations 10*(1 + a[5+i] % 25) ms; a9 % 10 loop count; a10/a11 bit i
    = frame i blend/dispose flag; n_frames = 1 + a12 % 4.
    b = md5(text||'webpf'): frame i offsets x = 2*(b[2i] % 128),
    y = 2*(b[2i+1] % 128) (stored halved by the container)."""
    from ..core.webp import synth_webp

    def payload(text):
        a = _md5(text + "webpa")
        b = _md5(text + "webpf")
        w = 1 + a[1] + 256 * (a[2] % 63)
        h = 1 + a[3] + 256 * (a[4] % 63)
        if a[0] % 5 == 0:
            return synth_webp("vp8", w, h)
        frames = [
            {
                "x": 2 * (b[2 * i] % 128),
                "y": 2 * (b[2 * i + 1] % 128),
                "w": w,
                "h": h,
                "duration_ms": 10 * (1 + a[5 + i] % 25),
                "blend": (a[10] >> i) & 1,
                "dispose": (a[11] >> i) & 1,
            }
            for i in range(1 + a[12] % 4)
        ]
        return synth_webp("vp8x", w, h, anim=1, frames=frames, loop_count=a[9] % 10)

    return _attach(docs, payload)


def webp_frame_stats(df: DataFrame) -> DataFrame:
    """Animation walk over a WebP binary column (core/webp.webp_frames):
    frame count, loop count, total duration, blend/dispose accounting, and
    a frame-offset checksum — from the 16-byte ANMF headers only, frame
    payloads skipped via chunk lengths (range-read posture). Static WebPs
    degrade to 'not_animated', non-WebP bytes to 'unparseable'."""
    from ..core.webp import webp_frames, webp_info

    def rows(raw):
        d = webp_frames(raw)
        if d is not None:
            fr = d["frames"]
            return [(
                "webp", "animated", len(fr), d["loop_count"],
                sum(f["duration_ms"] for f in fr),
                sum(f["blend"] for f in fr),
                sum(f["dispose"] for f in fr),
                sum(f["x"] + f["y"] for f in fr),
            )]
        if webp_info(raw) is not None:
            return [("webp", "not_animated") + (None,) * 6]
        return [("webp", "unparseable") + (None,) * 6]

    return _decode(df, rows, WEBP_FRAMES_SCHEMA)


AVIF_META_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("format", StringType()),
        StructField("outcome", StringType()),  # parsed|unparseable
        StructField("brand", StringType()),  # avif|avis
        StructField("codec", StringType()),  # av01 when an av1C binds
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("bit_depth", IntegerType()),
        StructField("rotation", IntegerType()),  # irot quarter turns
        StructField("n_items", IntegerType()),
        StructField("has_alpha", IntegerType()),  # alpha auxC item present
        StructField("mdat_bytes", IntegerType()),
        StructField("file_bytes", IntegerType()),
    ]
)


def attach_avif(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload: binary): a spec-correct single-image
    AVIF file (core/avif.synth_avif) per document. Params come from the
    FRESH stream v = md5(text||'avif') (fixture non-overlap rule):
    width = 1 + v0 + 256*(v1 % 64), height = 1 + v2 + 256*(v3 % 64);
    bit_depth = (8,10,12)[v4 % 3]; rotation = v5 % 4; alpha = v6 % 2
    (adds a second av01 item + auxC property); filler = v7 % 64 mdat
    payload bytes, alpha_filler = v8 % 32 when alpha. Closed forms:
      file_bytes = 252 + filler                  (alpha = 0)
                 = 348 + filler + alpha_filler   (alpha = 1)
      mdat_bytes = filler + alpha * alpha_filler
      n_items    = 1 + alpha."""
    from ..core.avif import synth_avif

    def payload(text):
        v = _md5(text + "avif")
        alpha = v[6] % 2
        return synth_avif(
            1 + v[0] + 256 * (v[1] % 64),
            1 + v[2] + 256 * (v[3] % 64),
            bit_depth=(8, 10, 12)[v[4] % 3],
            rotation=v[5] % 4,
            alpha=alpha,
            filler=v[7] % 64,
            alpha_filler=(v[8] % 32) if alpha else 0,
        )

    return _attach(docs, payload)


def avif_meta_stats(df: DataFrame) -> DataFrame:
    """Header-only AVIF walk over a binary column (core/avif.avif_info):
    brand / codec binding / spatial extents / bit depth / rotation / item
    count / alpha / payload accounting, reading only ftyp + meta + the
    mdat size field — a bounded range-read per object at 100 TB; the AV1
    coefficient payload is the documented codec seam and is never
    decoded. Non-AVIF bytes degrade to 'unparseable' rows (fields null),
    never a raised exception mid-scan."""
    from ..core.avif import avif_info

    def rows(data):
        d = avif_info(data)
        if d is None:
            return [("avif", "unparseable") + (None,) * 10]
        return [(
            "avif", "parsed", d["brand"], d["codec"], d["width"],
            d["height"], d["bit_depth"], d["rotation"],
            d["n_items"], d["has_alpha"], d["mdat_bytes"],
            d["file_bytes"],
        )]

    return _decode(df, rows, AVIF_META_SCHEMA)
