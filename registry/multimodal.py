"""Media queries: binary-column metadata and real pure-Python decodes
(BMP/PNG/GIF/JPEG/WebP/AVIF/EXIF/ID3/WAV/Y4M), container walks (MP3 frames,
MP4 boxes) and PDF text layout. Payloads are synthesised from md5 bytes of
each document, so every oracle re-derives the decoded fields in SQL."""

from __future__ import annotations

from html_parser_spark.operators.layout import attach_pdf, parse_layout_payloads
from html_parser_spark.operators.multimodal import (
    attach_avif, attach_bmp, attach_exif_jpeg, attach_gif, attach_jpeg, attach_mp3,
    attach_mp3_id3, attach_mp4, attach_payload, attach_png, attach_progressive_jpeg,
    attach_wav, attach_webp, attach_webp_anim, attach_y4m, audio_features,
    avif_meta_stats, exif_meta_stats, gif_frame_stats, id3_meta_stats,
    image_features, media_metadata, mp3_frame_stats, mp4_box_stats,
    video_frame_sample, webp_frame_stats, webp_meta_stats,
)

from registry import documents, documents_spread, query
from registry.plans import nodes


@query("multimodal_meta", crossings=("MapInArrow",), oracle="""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
              CAST(16 AS INTEGER) AS n_bytes,
              substr(md5(text), 1, 8) AS magic,
              CAST(CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) AS INTEGER) AS width,
              CAST(CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) AS INTEGER) AS height,
              CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS checksum
            FROM documents
        """)
def q_multimodal_meta(spark, sf_dir):
    return media_metadata(attach_payload(documents(spark, sf_dir)))


@query("multimodal_image_decode", crossings=("MapInArrow", "MapInArrow"), oracle="""
            WITH d AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     4 + CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) % 13 AS w,
                     4 + CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) % 13 AS h,
                     CAST('0x' || substr(md5(text), 5, 2) AS INTEGER) AS fr,
                     CAST('0x' || substr(md5(text), 7, 2) AS INTEGER) AS fg,
                     CAST('0x' || substr(md5(text), 9, 2) AS INTEGER) AS fb
              FROM documents
            )
            SELECT doc_id, 'bmp' AS format, 'decoded' AS outcome,
                   CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                   CAST(w * h AS INTEGER) AS n_px,
                   CAST(fr * (w * h - 1) + 255 AS BIGINT) AS sum_r,
                   CAST(fg * (w * h - 1) + 255 AS BIGINT) AS sum_g,
                   CAST(fb * (w * h - 1) + 255 AS BIGINT) AS sum_b
            FROM d
        """)
def q_multimodal_image(spark, sf_dir):
    """REAL image decode end-to-end: synthesize a 24-bit BMP per document
    (dimensions + fill from md5(text), one white corner pixel) and decode
    it with the pure-Python kernel (core/image.py). Closed form: n_px = w*h,
    per-channel sum = fill*(n_px-1) + 255."""
    return image_features(attach_bmp(documents_spread(spark, sf_dir)))


@query("multimodal_png_decode", crossings=("MapInArrow", "MapInArrow"), oracle="""
            WITH d AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     4 + CAST('0x' || substr(md5(text || 'png'), 1, 2) AS INTEGER) % 13 AS w,
                     4 + CAST('0x' || substr(md5(text || 'png'), 3, 2) AS INTEGER) % 13 AS h,
                     CAST('0x' || substr(md5(text || 'png'), 5, 2) AS INTEGER) AS fr,
                     CAST('0x' || substr(md5(text || 'png'), 7, 2) AS INTEGER) AS fg,
                     CAST('0x' || substr(md5(text || 'png'), 9, 2) AS INTEGER) AS fb
              FROM documents
            )
            SELECT doc_id, 'png' AS format, 'decoded' AS outcome,
                   CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                   CAST(w * h AS INTEGER) AS n_px,
                   CAST(fr * (w * h - 1) + 255 AS BIGINT) AS sum_r,
                   CAST(fg * (w * h - 1) + 255 AS BIGINT) AS sum_g,
                   CAST(fb * (w * h - 1) + 255 AS BIGINT) AS sum_b
            FROM d
        """)
def q_multimodal_png(spark, sf_dir):
    """REAL PNG decode end-to-end: synthesize an 8-bit truecolor PNG per
    document (params from the FRESH stream md5(text||'png'): dims c0/c1,
    fill c2..c4, RGBA iff c5 odd; rows cycle all five PNG filters) and
    decode it fully in pure Python + stdlib zlib (core/image.py: chunk walk,
    CRC check, inflate, Sub/Up/Average/Paeth unfiltering). Closed form as
    for BMP: n_px = w*h, per-RGB-channel sum = fill*(n_px-1) + 255 (alpha
    excluded from sums)."""
    return image_features(attach_png(documents_spread(spark, sf_dir)))


@query("multimodal_gif_decode", crossings=("MapInArrow", "MapInArrow"), oracle="""
            WITH d AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     4 + CAST('0x' || substr(md5(text || 'gif'), 1, 2) AS INTEGER) % 13 AS w,
                     4 + CAST('0x' || substr(md5(text || 'gif'), 3, 2) AS INTEGER) % 13 AS h,
                     CAST('0x' || substr(md5(text || 'gif'), 5, 2) AS INTEGER) AS fr,
                     CAST('0x' || substr(md5(text || 'gif'), 7, 2) AS INTEGER) AS fg,
                     CAST('0x' || substr(md5(text || 'gif'), 9, 2) AS INTEGER) AS fb
              FROM documents
            )
            SELECT doc_id, 'gif' AS format, 'decoded' AS outcome,
                   CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                   CAST(w * h AS INTEGER) AS n_px,
                   CAST(fr * (w * h - 1) + 255 AS BIGINT) AS sum_r,
                   CAST(fg * (w * h - 1) + 255 AS BIGINT) AS sum_g,
                   CAST(fb * (w * h - 1) + 255 AS BIGINT) AS sum_b
            FROM d
        """)
def q_multimodal_gif(spark, sf_dir):
    """REAL GIF decode end-to-end: synthesize a GIF89a per document (params
    from the FRESH stream md5(text||'gif'): dims d0/d1, fill d2..d4,
    interlaced iff d5 odd) and decode it fully in pure Python (core/gif.py:
    LZW with variable-width codes + clear/EOI, sub-block reassembly,
    palette mapping, 4-pass interlace reorder). Closed form as for BMP/PNG:
    n_px = w*h, per-channel sum = fill*(n_px-1) + 255."""
    return image_features(attach_gif(documents_spread(spark, sf_dir)))


@query("multimodal_gif_frames", crossings=("MapInArrow", "MapInArrow"), oracle="""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   'decoded' AS outcome,
                   CAST(1 + CAST('0x' || substr(md5(text || 'gif'), 13, 2) AS INTEGER) % 4 AS INTEGER) AS n_frames,
                   CAST(4 + CAST('0x' || substr(md5(text || 'gif'), 1, 2) AS INTEGER) % 13 AS INTEGER) AS width,
                   CAST(4 + CAST('0x' || substr(md5(text || 'gif'), 3, 2) AS INTEGER) % 13 AS INTEGER) AS height
            FROM documents
        """)
def q_multimodal_gif_frames(spark, sf_dir):
    """GIF animation metadata: frame count via the sub-block walk (no pixel
    decompression — the Y4M-style only-touch-what-you-need property) plus
    first-frame dims. Closed form: n_frames = 1 + d6 % 4, dims as in
    multimodal_gif_decode."""
    return gif_frame_stats(attach_gif(documents_spread(spark, sf_dir)))


@query("multimodal_jpeg_decode", crossings=("MapInArrow", "MapInArrow"), oracle="""
            WITH p AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     8 * (1 + CAST('0x' || substr(md5(text || 'jpg'), 1, 2) AS INTEGER) % 6) AS w,
                     8 * (1 + CAST('0x' || substr(md5(text || 'jpg'), 3, 2) AS INTEGER) % 6) AS h,
                     CAST('0x' || substr(md5(text || 'jpg'), 5, 2) AS INTEGER) AS fr,
                     CAST('0x' || substr(md5(text || 'jpg'), 7, 2) AS INTEGER) AS fg,
                     CAST('0x' || substr(md5(text || 'jpg'), 9, 2) AS INTEGER) AS fb
              FROM documents
            ),
            -- forward JFIF + DC-only quant round trip (core/jpeg.py contract:
            -- every rounding is floor(x + 0.5), Q = 16 luma / 24 chroma)
            -- every fractional literal is written in e-notation so DuckDB
            -- parses it as DOUBLE: bare 0.299 is DECIMAL, whose EXACT
            -- arithmetic lands ties (…= .500) that float64 misses by 1 ulp —
            -- observed on ~1/1000 fills as a one-quant-step luma shift
            ycc AS (
              SELECT *,
                floor(0.299e0 * fr + 0.587e0 * fg + 0.114e0 * fb + 0.5e0) AS y,
                floor(-0.168736e0 * fr - 0.331264e0 * fg + 0.5e0 * fb + 128 + 0.5e0) AS cb,
                floor(0.5e0 * fr - 0.418688e0 * fg - 0.081312e0 * fb + 128 + 0.5e0) AS cr
              FROM p
            ),
            rt AS (
              SELECT *,
                least(255, greatest(0, floor(16 * floor(8 * (y - 128) / 16 + 0.5e0) / 8 + 128 + 0.5e0))) AS y2,
                least(255, greatest(0, floor(24 * floor(8 * (cb - 128) / 24 + 0.5e0) / 8 + 128 + 0.5e0))) AS cb2,
                least(255, greatest(0, floor(24 * floor(8 * (cr - 128) / 24 + 0.5e0) / 8 + 128 + 0.5e0))) AS cr2
              FROM ycc
            ),
            rgb AS (
              SELECT *,
                least(255, greatest(0, floor(y2 + 1.402e0 * (cr2 - 128) + 0.5e0))) AS r2,
                least(255, greatest(0, floor(y2 - 0.344136e0 * (cb2 - 128) - 0.714136e0 * (cr2 - 128) + 0.5e0))) AS g2,
                least(255, greatest(0, floor(y2 + 1.772e0 * (cb2 - 128) + 0.5e0))) AS b2
              FROM rt
            )
            SELECT doc_id, 'jpeg' AS format, 'decoded' AS outcome,
                   CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                   CAST(w * h AS INTEGER) AS n_px,
                   CAST(r2 * w * h AS BIGINT) AS sum_r,
                   CAST(g2 * w * h AS BIGINT) AS sum_g,
                   CAST(b2 * w * h AS BIGINT) AS sum_b
            FROM rgb
        """)
def q_multimodal_jpeg(spark, sf_dir):
    """REAL baseline-JPEG decode end-to-end: synthesize a baseline 4:4:4
    JPEG per document (params from the FRESH stream md5(text||'jpg'):
    8-multiple dims 8*(1+e0%6) x 8*(1+e1%6), fill e2..e4) and decode it
    fully in pure Python (core/jpeg.py: marker walk, DQT/DHT canonical
    Huffman, entropy decode with unstuffing, dequant + dezigzag, float
    IDCT, JFIF color). Constant-fill blocks make the LOSSY round trip
    closed-form (DC-only quantization with tie-free Q multiples of 8), so
    the oracle checks dimensions AND the exact decoded channel sums."""
    return image_features(attach_jpeg(documents_spread(spark, sf_dir)))


@query("multimodal_exif_meta", crossings=("MapInArrow", "MapInArrow"), pins=(
    ("exactly one round-robin spread Exchange feeds the Python "
     "kernels (single-split serialization defense), nothing wide",
     lambda p: nodes(p, "Exchange") == 1
     and "roundrobin" in p.lower()),
), oracle="""
            WITH e AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     md5(text || 'exif0') AS he, md5(text || 'exif1') AS hf
              FROM documents
            ), b AS (
              SELECT doc_id,
                     CAST('0x' || substr(he, 1, 2) AS INTEGER) AS e0,
                     CAST('0x' || substr(he, 3, 2) AS INTEGER) AS e1,
                     substr(he, 5, 2) AS e2hex,
                     CAST('0x' || substr(he, 7, 2) AS INTEGER) AS e3,
                     CAST('0x' || substr(he, 9, 2) AS INTEGER) AS e4,
                     CAST('0x' || substr(he, 11, 2) AS INTEGER) AS e5,
                     CAST('0x' || substr(he, 13, 2) AS INTEGER) AS e6,
                     CAST('0x' || substr(he, 15, 2) AS INTEGER) AS e7,
                     CAST('0x' || substr(he, 17, 2) AS INTEGER) AS e8,
                     CAST('0x' || substr(he, 19, 2) AS INTEGER) AS e9,
                     CAST('0x' || substr(he, 21, 2) AS INTEGER) AS e10,
                     CAST('0x' || substr(hf, 1, 2) AS INTEGER) AS f0,
                     CAST('0x' || substr(hf, 3, 2) AS INTEGER) AS f1,
                     CAST('0x' || substr(hf, 5, 2) AS INTEGER) AS f2,
                     CAST('0x' || substr(hf, 7, 2) AS INTEGER) AS f3,
                     CAST('0x' || substr(hf, 9, 2) AS INTEGER) AS f4,
                     CAST('0x' || substr(hf, 11, 2) AS INTEGER) AS f5,
                     CAST('0x' || substr(hf, 13, 2) AS INTEGER) AS f6,
                     CAST('0x' || substr(hf, 15, 2) AS INTEGER) AS f7
              FROM e
            )
            SELECT doc_id, 'jpeg' AS format, 'parsed' AS outcome,
                   CASE WHEN e0 % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
                   CAST(1 + e1 % 8 AS INTEGER) AS orientation,
                   'cam-' || e2hex AS make,
                   printf('%04d:%02d:%02d %02d:%02d:%02d',
                          2000 + e3 % 26, 1 + e4 % 12, 1 + e5 % 28,
                          e6 % 24, e7 % 60, e8 % 60) AS dt,
                   CAST((CASE WHEN f0 % 2 = 0 THEN 1 ELSE -1 END)
                        * ((CAST(f1 % 90 AS BIGINT) * 3600
                            + (f2 % 60) * 60 + f3 % 60) * 1000000 // 3600)
                        AS BIGINT) AS lat_udeg,
                   CAST((CASE WHEN f4 % 2 = 0 THEN 1 ELSE -1 END)
                        * ((CAST(f5 % 180 AS BIGINT) * 3600
                            + (f6 % 60) * 60 + f7 % 60) * 1000000 // 3600)
                        AS BIGINT) AS lon_udeg,
                   CAST(4 AS INTEGER) AS n_ifd0,
                   CAST(8 * (1 + e9 % 6) AS INTEGER) AS width,
                   CAST(8 * (1 + e10 % 6) AS INTEGER) AS height
            FROM b
        """)
def q_multimodal_exif(spark, sf_dir):
    """Header-only EXIF/APP1 metadata walk end-to-end: synthesize a real
    baseline JPEG with a spec-correct Exif APP1 (TIFF IFD0 + GPS sub-IFD,
    BOTH byte orders across the corpus — core/exif.py) per document and
    walk orientation / make / timestamp / GPS micro-degrees / SOF dims
    without touching entropy-coded data (range-read posture at 100 TB).
    Params from md5(text||'exif0') e0..e13 and md5(text||'exif1') f0..f7;
    every field has the closed form in attach_exif_jpeg's docstring."""
    return exif_meta_stats(attach_exif_jpeg(documents_spread(spark, sf_dir)))


@query("multimodal_webp_meta", crossings=("MapInArrow", "MapInArrow"), pins=(
    ("exactly one round-robin spread Exchange feeds the Python "
     "kernels (single-split serialization defense), nothing wide",
     lambda p: nodes(p, "Exchange") == 1
     and "roundrobin" in p.lower()),
), oracle="""
            WITH w AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     md5(text || 'webp') AS hw
              FROM documents
            ), b AS (
              SELECT doc_id,
                     CAST('0x' || substr(hw, 1, 2) AS INTEGER) AS w0,
                     CAST('0x' || substr(hw, 3, 2) AS INTEGER) AS w1,
                     CAST('0x' || substr(hw, 5, 2) AS INTEGER) AS w2,
                     CAST('0x' || substr(hw, 7, 2) AS INTEGER) AS w3,
                     CAST('0x' || substr(hw, 9, 2) AS INTEGER) AS w4,
                     CAST('0x' || substr(hw, 11, 2) AS INTEGER) AS w5,
                     CAST('0x' || substr(hw, 13, 2) AS INTEGER) AS w6,
                     CAST('0x' || substr(hw, 15, 2) AS INTEGER) AS w7,
                     CAST('0x' || substr(hw, 17, 2) AS INTEGER) AS w8,
                     CAST('0x' || substr(hw, 19, 2) AS INTEGER) AS w9,
                     CAST('0x' || substr(hw, 21, 2) AS INTEGER) AS w10
              FROM w
            ), p AS (
              SELECT doc_id, w0 % 3 AS v,
                     1 + w1 + 256 * (w2 % 63) AS width,
                     1 + w3 + 256 * (w4 % 63) AS height,
                     w5 % 2 AS alpha, w6 % 2 AS anim, w7 % 2 AS exif,
                     w8 % 2 AS icc, w9 % 2 AS xmp, w10 % 64 AS filler
              FROM b
            )
            SELECT doc_id, 'webp' AS format, 'parsed' AS outcome,
                   CASE v WHEN 0 THEN 'vp8' WHEN 1 THEN 'vp8l'
                          ELSE 'vp8x' END AS variant,
                   CAST(width AS INTEGER) AS width,
                   CAST(height AS INTEGER) AS height,
                   CAST(CASE WHEN v = 0 THEN 0 ELSE alpha END
                        AS INTEGER) AS has_alpha,
                   CAST(CASE WHEN v = 2 THEN anim ELSE 0 END
                        AS INTEGER) AS has_anim,
                   CAST(CASE WHEN v = 2 THEN exif ELSE 0 END
                        AS INTEGER) AS has_exif,
                   CAST(CASE WHEN v = 2 THEN icc ELSE 0 END
                        AS INTEGER) AS has_icc,
                   CAST(CASE WHEN v = 2 THEN xmp ELSE 0 END
                        AS INTEGER) AS has_xmp,
                   CAST(CASE WHEN v = 0 THEN 30 + filler + (filler % 2)
                             WHEN v = 1 THEN 25 + filler + ((5 + filler) % 2)
                             ELSE 48 + filler + (filler % 2)
                        END AS INTEGER) AS riff_bytes
            FROM p
        """)
def q_multimodal_webp(spark, sf_dir):
    """Header-only WebP container walk end-to-end: synthesize a
    spec-correct WebP (RFC 9649) per document — all three container
    variants across the corpus (simple lossy VP8 frame-tag dims, simple
    lossless VP8L signature bitstream, extended VP8X flags + canvas) —
    and walk variant / dimensions / feature flags / container length
    without decoding coefficient data (range-read posture at 100 TB;
    real web corpora are full of WebP). Params from the fresh stream
    md5(text||'webp') w0..w10; every field has the closed form in
    attach_webp's docstring."""
    return webp_meta_stats(attach_webp(documents_spread(spark, sf_dir)))


@query("multimodal_avif_meta", crossings=("MapInArrow", "MapInArrow"), pins=(
    ("exactly one round-robin spread Exchange feeds the Python "
     "kernels (single-split serialization defense), nothing wide",
     lambda p: nodes(p, "Exchange") == 1
     and "roundrobin" in p.lower()),
), oracle="""
            WITH w AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     md5(text || 'avif') AS hv
              FROM documents
            ), b AS (
              SELECT doc_id,
                     CAST('0x' || substr(hv, 1, 2) AS INTEGER) AS v0,
                     CAST('0x' || substr(hv, 3, 2) AS INTEGER) AS v1,
                     CAST('0x' || substr(hv, 5, 2) AS INTEGER) AS v2,
                     CAST('0x' || substr(hv, 7, 2) AS INTEGER) AS v3,
                     CAST('0x' || substr(hv, 9, 2) AS INTEGER) AS v4,
                     CAST('0x' || substr(hv, 11, 2) AS INTEGER) AS v5,
                     CAST('0x' || substr(hv, 13, 2) AS INTEGER) AS v6,
                     CAST('0x' || substr(hv, 15, 2) AS INTEGER) AS v7,
                     CAST('0x' || substr(hv, 17, 2) AS INTEGER) AS v8
              FROM w
            ), p AS (
              SELECT doc_id,
                     1 + v0 + 256 * (v1 % 64) AS width,
                     1 + v2 + 256 * (v3 % 64) AS height,
                     CASE v4 % 3 WHEN 0 THEN 8 WHEN 1 THEN 10
                          ELSE 12 END AS bit_depth,
                     v5 % 4 AS rotation,
                     v6 % 2 AS alpha,
                     v7 % 64 AS filler,
                     CASE WHEN v6 % 2 = 1 THEN v8 % 32 ELSE 0 END AS afill
              FROM b
            )
            SELECT doc_id, 'avif' AS format, 'parsed' AS outcome,
                   'avif' AS brand, 'av01' AS codec,
                   CAST(width AS INTEGER) AS width,
                   CAST(height AS INTEGER) AS height,
                   CAST(bit_depth AS INTEGER) AS bit_depth,
                   CAST(rotation AS INTEGER) AS rotation,
                   CAST(1 + alpha AS INTEGER) AS n_items,
                   CAST(alpha AS INTEGER) AS has_alpha,
                   CAST(filler + afill AS INTEGER) AS mdat_bytes,
                   CAST(CASE WHEN alpha = 1 THEN 348 + filler + afill
                             ELSE 252 + filler END AS INTEGER) AS file_bytes
            FROM p
        """)
def q_multimodal_avif(spark, sf_dir):
    """Header-only AVIF (ISO-BMFF) walk end-to-end: synthesize a
    spec-correct single-image AVIF per document (core/avif.synth_avif —
    ftyp + meta box tree with ispe/pixi/av1C/irot properties, alpha docs
    carry a second av01 item + auxC) and walk brand / codec binding /
    extents / bit depth / rotation / item count / payload accounting
    from ftyp + meta + the mdat size field only (range-read posture at
    100 TB; the AV1 payload is the documented codec seam). Params from
    the fresh stream md5(text||'avif') v0..v8; every field has the
    closed form in attach_avif's docstring."""
    return avif_meta_stats(attach_avif(documents_spread(spark, sf_dir)))


@query("multimodal_webp_frames", crossings=("MapInArrow", "MapInArrow"), oracle="""
            WITH w AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     md5(text || 'webpa') AS ha, md5(text || 'webpf') AS hb
              FROM documents
            ), b AS (
              SELECT doc_id, ha, hb,
                     CAST('0x' || substr(ha, 1, 2) AS INTEGER) AS a0,
                     CAST('0x' || substr(ha, 19, 2) AS INTEGER) AS a9,
                     CAST('0x' || substr(ha, 21, 2) AS INTEGER) AS a10,
                     CAST('0x' || substr(ha, 23, 2) AS INTEGER) AS a11,
                     CAST('0x' || substr(ha, 25, 2) AS INTEGER) AS a12
              FROM w
            ), p AS (
              SELECT doc_id, ha, hb, a0, a9, a10, a11,
                     1 + a12 % 4 AS nf
              FROM b
            )
            SELECT doc_id, 'webp' AS format,
                   CASE WHEN a0 % 5 = 0 THEN 'not_animated'
                        ELSE 'animated' END AS outcome,
                   CAST(CASE WHEN a0 % 5 = 0 THEN NULL ELSE nf END
                        AS INTEGER) AS n_frames,
                   CAST(CASE WHEN a0 % 5 = 0 THEN NULL ELSE a9 % 10 END
                        AS INTEGER) AS loop_count,
                   CAST(CASE WHEN a0 % 5 = 0 THEN NULL ELSE
                     list_sum(list_transform(range(0, nf), i ->
                       10 * (1 + CAST('0x' || substr(ha, 11 + 2 * CAST(i AS INT), 2)
                                   AS INTEGER) % 25)))
                   END AS INTEGER) AS total_duration_ms,
                   CAST(CASE WHEN a0 % 5 = 0 THEN NULL ELSE
                     list_sum(list_transform(range(0, nf), i ->
                       (a10 >> CAST(i AS INT)) & 1))
                   END AS INTEGER) AS n_blend,
                   CAST(CASE WHEN a0 % 5 = 0 THEN NULL ELSE
                     list_sum(list_transform(range(0, nf), i ->
                       (a11 >> CAST(i AS INT)) & 1))
                   END AS INTEGER) AS n_dispose,
                   CAST(CASE WHEN a0 % 5 = 0 THEN NULL ELSE
                     list_sum(list_transform(range(0, nf), i ->
                       2 * (CAST('0x' || substr(hb, 1 + 4 * CAST(i AS INT), 2)
                                 AS INTEGER) % 128)
                       + 2 * (CAST('0x' || substr(hb, 3 + 4 * CAST(i AS INT), 2)
                                   AS INTEGER) % 128)))
                   END AS INTEGER) AS sum_xy
            FROM p
        """)
def q_multimodal_webp_frames(spark, sf_dir):
    """Animated-WebP frame walk end-to-end: a mixed corpus (every 5th-ish
    doc static, the rest VP8X+ANIM+ANMF animations with 1-4 frames) walked
    via the 16-byte ANMF headers only — frame count, loop count, total
    duration, blend/dispose accounting, offset checksum. Params from the
    fresh streams md5(text||'webpa') / md5(text||'webpf'); closed forms in
    attach_webp_anim's docstring."""
    return webp_frame_stats(attach_webp_anim(documents_spread(spark, sf_dir)))


@query("multimodal_id3_meta", crossings=("MapInArrow", "MapInArrow"), oracle="""
            WITH g AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     md5(text || 'id3') AS hg
              FROM documents
            ), b AS (
              SELECT doc_id, hg,
                     CAST('0x' || substr(hg, 1, 2) AS INTEGER) AS g0,
                     CAST('0x' || substr(hg, 3, 2) AS INTEGER) AS g1,
                     CAST('0x' || substr(hg, 9, 2) AS INTEGER) AS g4,
                     CAST('0x' || substr(hg, 11, 2) AS INTEGER) AS g5,
                     CAST('0x' || substr(hg, 13, 2) AS INTEGER) AS g6,
                     CAST('0x' || substr(hg, 15, 2) AS INTEGER) AS g7,
                     CAST('0x' || substr(hg, 17, 2) AS INTEGER) AS g8,
                     CAST('0x' || substr(hg, 19, 2) AS INTEGER) AS g9
              FROM g
            ), s AS (
              SELECT doc_id,
                     CASE WHEN g0 % 2 = 0 THEN 3 ELSE 4 END AS version,
                     (g1 % 3 = 1) AS utf16,
                     concat('trk-', substr(hg, 5, 4)) AS title,
                     concat('artist-', g4 % 40) AS artist,
                     concat('alb-', g5 % 12) AS album,
                     1970 + g6 % 55 AS year,
                     1 + g7 % 20 AS track,
                     g8 % 50 AS padding,
                     1 + g9 % 40 AS n_frames
              FROM b
            ), t AS (
              SELECT *,
                     length(title) + length(artist) + length(album)
                       + length(CAST(year AS VARCHAR))
                       + length(CAST(track AS VARCHAR)) AS total_chars
              FROM s
            )
            SELECT doc_id, 'mp3' AS format, 'parsed' AS outcome,
                   CAST(version AS INTEGER) AS version,
                   CAST(10 + padding + 55
                        + CASE WHEN utf16 THEN 10 + 2 * total_chars
                               ELSE total_chars END AS INTEGER) AS tag_bytes,
                   title, artist, album,
                   CAST(year AS INTEGER) AS year,
                   CAST(track AS INTEGER) AS track,
                   CAST(n_frames AS INTEGER) AS n_frames
            FROM t
        """)
def q_multimodal_id3(spark, sf_dir):
    """Header-only ID3v2 text-frame walk end-to-end: a spec-correct
    ID3v2.3/2.4 tag (both frame-size formats, all three text encodings
    across the corpus) prepended to a real CBR MP3 stream per document
    (core/av.synth_id3v2 + id3v2_text_frames); title/artist/album/year/
    track + tag size + frame count, audio payload never read. Params from
    md5(text||'id3') g0..g11; tag_bytes has the closed form
    10 + sum(10 + 1 + enclen) + padding where enclen doubles (+BOM) for
    the UTF-16 encoding."""
    return id3_meta_stats(attach_mp3_id3(documents_spread(spark, sf_dir)))


@query("multimodal_jpeg_progressive", crossings=("MapInArrow", "MapInArrow"), oracle="""
            WITH p AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     8 * (1 + CAST('0x' || substr(md5(text || 'jpp'), 1, 2) AS INTEGER) % 6) AS w,
                     8 * (1 + CAST('0x' || substr(md5(text || 'jpp'), 3, 2) AS INTEGER) % 6) AS h,
                     CAST('0x' || substr(md5(text || 'jpp'), 5, 2) AS INTEGER) AS fr,
                     CAST('0x' || substr(md5(text || 'jpp'), 7, 2) AS INTEGER) AS fg,
                     CAST('0x' || substr(md5(text || 'jpp'), 9, 2) AS INTEGER) AS fb
              FROM documents
            ),
            -- forward JFIF + DC-only quant round trip (core/jpeg.py contract:
            -- every rounding is floor(x + 0.5), Q = 16 luma / 24 chroma)
            -- every fractional literal is written in e-notation so DuckDB
            -- parses it as DOUBLE: bare 0.299 is DECIMAL, whose EXACT
            -- arithmetic lands ties (…= .500) that float64 misses by 1 ulp —
            -- observed on ~1/1000 fills as a one-quant-step luma shift
            ycc AS (
              SELECT *,
                floor(0.299e0 * fr + 0.587e0 * fg + 0.114e0 * fb + 0.5e0) AS y,
                floor(-0.168736e0 * fr - 0.331264e0 * fg + 0.5e0 * fb + 128 + 0.5e0) AS cb,
                floor(0.5e0 * fr - 0.418688e0 * fg - 0.081312e0 * fb + 128 + 0.5e0) AS cr
              FROM p
            ),
            rt AS (
              SELECT *,
                least(255, greatest(0, floor(16 * floor(8 * (y - 128) / 16 + 0.5e0) / 8 + 128 + 0.5e0))) AS y2,
                least(255, greatest(0, floor(24 * floor(8 * (cb - 128) / 24 + 0.5e0) / 8 + 128 + 0.5e0))) AS cb2,
                least(255, greatest(0, floor(24 * floor(8 * (cr - 128) / 24 + 0.5e0) / 8 + 128 + 0.5e0))) AS cr2
              FROM ycc
            ),
            rgb AS (
              SELECT *,
                least(255, greatest(0, floor(y2 + 1.402e0 * (cr2 - 128) + 0.5e0))) AS r2,
                least(255, greatest(0, floor(y2 - 0.344136e0 * (cb2 - 128) - 0.714136e0 * (cr2 - 128) + 0.5e0))) AS g2,
                least(255, greatest(0, floor(y2 + 1.772e0 * (cb2 - 128) + 0.5e0))) AS b2
              FROM rt
            )
            SELECT doc_id, 'jpeg' AS format, 'decoded' AS outcome,
                   CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                   CAST(w * h AS INTEGER) AS n_px,
                   CAST(r2 * w * h AS BIGINT) AS sum_r,
                   CAST(g2 * w * h AS BIGINT) AS sum_g,
                   CAST(b2 * w * h AS BIGINT) AS sum_b
            FROM rgb
        """)
def q_multimodal_jpeg_progressive(spark, sf_dir):
    """REAL progressive-JPEG (SOF2) decode end-to-end: synthesize a
    five-scan progressive JPEG per document (params from the FRESH stream
    md5(text||'jpp'): 8-multiple dims 8*(1+f0%6) x 8*(1+f1%6), fill
    f2..f4) and decode it in pure Python (core/jpeg.py `_Progressive`:
    DC-first + DC-refinement successive approximation, per-component
    EOB-run AC scans, coefficient accumulation, one IDCT at EOI). Same
    quant tables and rounding contract as the baseline, so the oracle's
    closed form checks the multi-scan reconstruction exactly — including
    that the refinement scan restores the DC low bit."""
    return image_features(attach_progressive_jpeg(documents_spread(spark, sf_dir)))


@query("multimodal_audio_meta", crossings=("MapInArrow", "MapInArrow"), oracle="""
            WITH d AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     500 + 4 * CAST('0x' || substr(md5(text), 11, 2) AS INTEGER) AS ns,
                     CAST('0x' || substr(md5(text), 13, 2) AS INTEGER) % 3 AS ri,
                     1 + 4 * CAST('0x' || substr(md5(text), 15, 2) AS INTEGER) AS amp,
                     1 + CAST('0x' || substr(md5(text), 17, 2) AS INTEGER) % 2 AS ch
              FROM documents
            )
            SELECT doc_id, 'wav' AS format, 'decoded' AS outcome,
                   CAST(CASE ri WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        ELSE 44100 END AS INTEGER) AS rate,
                   CAST(ch AS INTEGER) AS channels,
                   CAST(ns AS INTEGER) AS n_samples,
                   CAST(amp * ns * ch AS BIGINT) AS sum_abs
            FROM d
        """)
def q_multimodal_audio(spark, sf_dir):
    """REAL audio decode end-to-end: synthesize a PCM16 WAV per document
    (square wave; params from md5(text) bytes 5..8) and decode with the
    pure-Python RIFF kernel. Closed form: sum_abs = amp * n_samples * ch."""
    return audio_features(attach_wav(documents_spread(spark, sf_dir)))


@query("multimodal_video_frames", crossings=("MapInArrow", "MapInArrow"), oracle="""
            WITH d AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     2 + CAST('0x' || substr(md5(text), 19, 2) AS INTEGER) % 4 AS nf,
                     2 * (2 + CAST('0x' || substr(md5(text), 21, 2) AS INTEGER) % 7) AS w,
                     2 * (2 + CAST('0x' || substr(md5(text), 23, 2) AS INTEGER) % 5) AS h,
                     CAST('0x' || substr(md5(text), 25, 2) AS INTEGER) AS l0
              FROM documents
            )
            SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                   CAST(nf AS INTEGER) AS n_frames, CAST(f AS INTEGER) AS frame,
                   CAST(((l0 + 40 * f) % 256) * w * h AS BIGINT) AS sum_y
            FROM d, range(6) t(f)
            WHERE f < nf AND f % 2 = 0
        """)
def q_multimodal_video(spark, sf_dir):
    """REAL video frame-sampling end-to-end: synthesize a YUV4MPEG2 stream
    per document (constant-luma frames from md5(text) bytes 9..12), sample
    every 2nd frame by offset arithmetic. Closed form per sampled frame:
    sum_y = luma_f * width * height, luma_f = (b12 + 40*f) % 256."""
    return video_frame_sample(attach_y4m(documents_spread(spark, sf_dir)), every=2)


@query("multimodal_mp3_meta", crossings=("MapInArrow", "MapInArrow"), oracle="""
            WITH d AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     CAST('0x' || substr(md5(text || 'mp3'), 1, 2) AS INTEGER) AS f0,
                     CAST('0x' || substr(md5(text || 'mp3'), 3, 2) AS INTEGER) AS f1,
                     CAST('0x' || substr(md5(text || 'mp3'), 5, 2) AS INTEGER) AS f2,
                     CAST('0x' || substr(md5(text || 'mp3'), 7, 2) AS INTEGER) AS f3
              FROM documents
            ), p AS (
              SELECT doc_id,
                     3 + f0 % 6 AS n_frames,
                     ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[1 + f1 % 14]
                       AS kbps,
                     ([44100,48000,32000])[1 + f2 % 3] AS rate,
                     f3 % 2 AS has_id3
              FROM d
            )
            SELECT doc_id, 'mp3' AS format, 'parsed' AS outcome,
                   CAST(kbps AS INTEGER) AS bitrate_kbps,
                   CAST(rate AS INTEGER) AS sample_rate,
                   CAST(n_frames AS INTEGER) AS n_frames,
                   CAST(CAST(n_frames AS BIGINT) * 1152 * 1000000 // rate AS BIGINT) AS duration_us,
                   CAST(CAST(n_frames AS BIGINT) * (144000 * kbps // rate) AS BIGINT) AS n_bytes,
                   CAST(has_id3 AS INTEGER) AS has_id3,
                   CAST(1 AS INTEGER) AS is_cbr
            FROM p
        """)
def q_multimodal_mp3(spark, sf_dir):
    """REAL MP3 frame-header walk end-to-end: synthesize a structurally
    correct CBR MPEG-1 Layer III stream per document (params from the
    fresh md5(text||'mp3') byte stream f0..f4) and walk its frame headers
    (core/av.mp3_info). Closed forms: frame_len = 144000*kbps//rate,
    duration_us = n_frames*1152*1e6//rate. Payload audio stays
    codec_unavailable by design — this is the header-cost metadata pass."""
    return mp3_frame_stats(attach_mp3(documents_spread(spark, sf_dir)))


@query("multimodal_mp4_meta", crossings=("MapInArrow", "MapInArrow"), oracle="""
            WITH d AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     CAST('0x' || substr(md5(text || 'mp4'), 1, 2) AS INTEGER) AS g0,
                     CAST('0x' || substr(md5(text || 'mp4'), 3, 2) AS INTEGER) AS g1,
                     CAST('0x' || substr(md5(text || 'mp4'), 5, 2) AS INTEGER) AS g2,
                     CAST('0x' || substr(md5(text || 'mp4'), 7, 2) AS INTEGER) AS g3,
                     CAST('0x' || substr(md5(text || 'mp4'), 9, 2) AS INTEGER) AS g4
              FROM documents
            ), p AS (
              SELECT doc_id,
                     16 * (1 + g0 % 40) AS width,
                     16 * (1 + g1 % 30) AS height,
                     ([600,1000,90000])[1 + g2 % 3] AS timescale,
                     100 + 10 * g3 AS duration,
                     1 + g4 % 50 AS n_samples
              FROM d
            )
            SELECT doc_id, 'mp4' AS format, 'parsed' AS outcome,
                   'isom' AS brand,
                   CAST(width AS INTEGER) AS width,
                   CAST(height AS INTEGER) AS height,
                   CAST(timescale AS INTEGER) AS timescale,
                   CAST(CAST(duration AS BIGINT) * 1000000 // timescale AS BIGINT) AS duration_us,
                   CAST(1 AS INTEGER) AS n_tracks,
                   CAST(n_samples AS INTEGER) AS n_samples
            FROM p
        """)
def q_multimodal_mp4(spark, sf_dir):
    """REAL ISO-BMFF box-tree walk end-to-end: synthesize a
    single-video-track MP4 per document (params from md5(text||'mp4')
    g0..g4) and walk ftyp/moov/trak/stbl (core/av.mp4_info) — mdat is
    never read (range-read cost at scale). Closed forms in the params."""
    return mp4_box_stats(attach_mp4(documents_spread(spark, sf_dir)))


@query("layout_pdf_text", crossings=("MapInArrow", "MapInArrow"), oracle="""
            WITH d AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
                     array_to_string((string_split(text, ' '))[1:3], ' ') AS title
              FROM documents
            )
            SELECT doc_id, 'synth://' || doc_id || '.pdf' AS media_ref,
                   CAST(0 AS INTEGER) AS page, CAST(0 AS INTEGER) AS block_order,
                   'text' AS block_kind, title AS content FROM d
            UNION ALL
            SELECT doc_id, 'synth://' || doc_id || '.pdf', 1, 1, 'text', text FROM d
        """)
def q_layout_pdf(spark, sf_dir):
    """REAL PDF text extraction end-to-end: synthesize a valid 2-page PDF
    per document (title page + body page; half the corpus FlateDecode-
    compressed, Tj and split-TJ emission both exercised), then run the
    pure-Python extractor (core/pdf.py) over the binary column. Closed form:
    page 0 block = the 3-word title, page 1 block = the body text."""
    return parse_layout_payloads(attach_pdf(documents_spread(spark, sf_dir)))
