"""Multimodal binary-column plumbing (operators/multimodal.py)."""

from __future__ import annotations

import hashlib

from html_parser_spark.operators.multimodal import attach_payload, media_metadata


def test_metadata_kernel(spark):
    docs = spark.createDataFrame([(1, "hello"), (2, "world")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in media_metadata(attach_payload(docs)).collect()}
    for doc_id, text in ((1, "hello"), (2, "world")):
        b = hashlib.md5(text.encode()).digest()
        r = rows[str(doc_id)]
        assert r["n_bytes"] == 16
        assert r["magic"] == b[:4].hex()
        assert (r["width"], r["height"]) == (b[0], b[1])
        assert r["checksum"] == int.from_bytes(b[:4], "big")


def test_null_payload_safe(spark):
    df = spark.createDataFrame([("x", None)], "doc_id string, payload binary")
    r = media_metadata(df).collect()[0]
    assert (r["n_bytes"], r["magic"], r["checksum"]) == (0, "", 0)


def test_image_features_outcomes(spark):
    """The graceful kernel: real BMP decode, codec_unavailable for JPEG
    magic, undecodable for garbage/null — the stage never fails."""
    from html_parser_spark.core.image import synth_bmp
    from html_parser_spark.operators.multimodal import image_features

    rows = [
        ("bmp", bytearray(synth_bmp(5, 3, (10, 20, 30)))),
        ("jpg", bytearray(b"\xff\xd8\xff\xe0" + b"\x00" * 8)),
        ("garbage", bytearray(b"not an image")),
        ("nul", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, payload binary")
    got = {r["doc_id"]: r for r in image_features(df).collect()}
    b = got["bmp"]
    assert (b["outcome"], b["width"], b["height"], b["n_px"]) == ("decoded", 5, 3, 15)
    # constant fill + one white corner pixel: sums have a closed form
    assert (b["sum_r"], b["sum_g"], b["sum_b"]) == (
        10 * 14 + 255, 20 * 14 + 255, 30 * 14 + 255)
    assert (got["jpg"]["format"], got["jpg"]["outcome"]) == ("jpeg", "codec_unavailable")
    assert got["garbage"]["outcome"] == "undecodable"
    assert got["nul"]["outcome"] == "undecodable"


def test_audio_features_outcomes(spark):
    from html_parser_spark.core.av import synth_wav
    from html_parser_spark.operators.multimodal import audio_features

    rows = [
        ("wav", bytearray(synth_wav(100, 16000, 7, channels=2))),
        ("mp3", bytearray(b"ID3\x03" + b"\x00" * 16)),
        ("junk", bytearray(b"nope")),
    ]
    df = spark.createDataFrame(rows, "doc_id string, payload binary")
    got = {r["doc_id"]: r for r in audio_features(df).collect()}
    w = got["wav"]
    assert (w["outcome"], w["rate"], w["channels"], w["n_samples"]) == (
        "decoded", 16000, 2, 100)
    assert w["sum_abs"] == 7 * 100 * 2
    assert (got["mp3"]["format"], got["mp3"]["outcome"]) == ("mp3", "codec_unavailable")
    assert got["junk"]["outcome"] == "undecodable"


def test_video_frame_sampling(spark):
    """Every 2nd frame decoded; untouched frames are skipped by offset
    arithmetic; malformed payloads contribute zero rows."""
    from html_parser_spark.core.av import synth_y4m
    from html_parser_spark.operators.multimodal import video_frame_sample

    rows = [
        ("v1", bytearray(synth_y4m(4, 2, [5, 6, 7, 8, 9]))),
        ("bad", bytearray(b"not video")),
    ]
    df = spark.createDataFrame(rows, "doc_id string, payload binary")
    got = video_frame_sample(df, every=2).collect()
    assert {r["doc_id"] for r in got} == {"v1"}
    by_frame = {r["frame"]: r for r in got}
    assert sorted(by_frame) == [0, 2, 4]
    assert all((r["width"], r["height"], r["n_frames"]) == (4, 2, 5) for r in got)
    assert [by_frame[f]["sum_y"] for f in (0, 2, 4)] == [5 * 8, 7 * 8, 9 * 8]


def test_wav_chunk_walk_tolerates_extra_chunks():
    """A LIST/INFO chunk between fmt and data (common in real WAVs) must
    not break the RIFF walk; odd-size chunks pad to even."""
    import struct

    from html_parser_spark.core.av import decode_wav, synth_wav

    base = synth_wav(10, 8000, 3)
    fmt_at = base.find(b"fmt ")
    data_at = base.find(b"data")
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd size, padded
    patched = base[:data_at] + extra + base[data_at:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    d = decode_wav(patched)
    assert d == {"rate": 8000, "channels": 1, "n_samples": 10, "sum_abs": 30}
    assert fmt_at > 0


def test_wav_y4m_round_trip_property():
    """Hypothesis fuzz: WAV and Y4M writers/decoders round-trip for
    arbitrary parameters (closed-form energies/luma sums)."""
    from hypothesis import given, settings, strategies as st

    from html_parser_spark.core.av import (
        decode_wav,
        synth_wav,
        synth_y4m,
        y4m_info,
        y4m_sample_frames,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        n=st.integers(1, 400),
        rate=st.sampled_from([8000, 16000, 44100]),
        amp=st.integers(0, 2000),
        ch=st.integers(1, 2),
    )
    def wav(n, rate, amp, ch):
        d = decode_wav(synth_wav(n, rate, amp, channels=ch))
        assert d == {
            "rate": rate, "channels": ch, "n_samples": n, "sum_abs": amp * n * ch}

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 10).map(lambda x: 2 * x),
        h=st.integers(1, 8).map(lambda x: 2 * x),
        lumas=st.lists(st.integers(0, 255), min_size=1, max_size=6),
        every=st.integers(1, 3),
    )
    def y4m(w, h, lumas, every):
        data = synth_y4m(w, h, lumas)
        assert y4m_info(data) == {"width": w, "height": h, "n_frames": len(lumas)}
        got = y4m_sample_frames(data, every)
        assert got == [
            {"frame": f, "sum_y": lumas[f] * w * h}
            for f in range(0, len(lumas), every)
        ]

    wav()
    y4m()


def test_bmp_decode_matches_numpy_reference():
    """Property: random fills/dimensions round-trip through the BMP
    writer/decoder, including resize."""
    import numpy as np

    from html_parser_spark.core.image import decode_bmp, resize_nearest, synth_bmp

    rng = np.random.RandomState(7)
    for _ in range(25):
        w, h = int(rng.randint(1, 40)), int(rng.randint(1, 40))
        fill = tuple(int(x) for x in rng.randint(0, 256, 3))
        img = decode_bmp(synth_bmp(w, h, fill))
        assert img.shape == (h, w, 3)
        want = np.zeros((h, w, 3), np.uint8)
        want[:, :] = fill
        want[0, 0] = 255
        assert (img == want).all()
        t = resize_nearest(img, 4, 4)
        assert t.shape == (4, 4, 3)


def test_png_round_trip_all_filters():
    """Property: the PNG writer cycles filter types per row (y % 5), so any
    height >= 5 exercises None/Sub/Up/Average/Paeth; decode must reproduce
    the constant fill + white corner exactly, RGB and RGBA."""
    import numpy as np

    from html_parser_spark.core.image import decode_png, synth_png

    rng = np.random.RandomState(11)
    for _ in range(25):
        w, h = int(rng.randint(1, 40)), int(rng.randint(5, 40))
        fill = tuple(int(x) for x in rng.randint(0, 256, 3))
        rgba = bool(rng.randint(0, 2))
        img = decode_png(synth_png(w, h, fill, rgba=rgba))
        assert img is not None
        assert img.shape == (h, w, 4 if rgba else 3)
        assert tuple(img[0, 0, :3]) == (255, 255, 255)
        want = np.zeros((h, w, 3), np.uint8)
        want[:, :] = fill
        want[0, 0] = 255
        assert (img[:, :, :3] == want).all()
        if rgba:
            assert (img[:, :, 3] == 255).all()


def test_png_decode_arbitrary_content():
    """Unfiltering vs a filter-0-only reference encoding: random pixel
    content (not just constant fills) survives the round trip."""
    import struct
    import zlib

    import numpy as np

    from html_parser_spark.core.image import decode_png

    def raw_png(img):
        h, w, c = img.shape
        lines = b"".join(b"\x00" + img[y].tobytes() for y in range(h))

        def chunk(t, b):
            return (
                struct.pack(">I", len(b))
                + t
                + b
                + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if c == 3 else 6, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(lines))
            + chunk(b"IEND", b"")
        )

    rng = np.random.RandomState(13)
    for c in (3, 4):
        img = rng.randint(0, 256, (9, 11, c), dtype=np.uint8)
        got = decode_png(raw_png(img))
        assert got is not None and (got == img).all()


def test_png_malformed_and_unsupported_return_none():
    from html_parser_spark.core.image import decode_png, synth_png

    good = synth_png(6, 6, (1, 2, 3))
    assert decode_png(good) is not None
    assert decode_png(b"") is None
    assert decode_png(good[:-5]) is None  # truncated: IEND lost
    bad = bytearray(good)
    bad[20] ^= 0xFF  # corrupt IHDR body -> CRC mismatch
    assert decode_png(bytes(bad)) is None
    # palette stream WITHOUT a PLTE chunk is malformed -> None
    import struct
    import zlib

    def chunk(t, b):
        return (
            struct.pack(">I", len(b))
            + t
            + b
            + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
        )

    pal_ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0)  # color type 3
    pal = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", pal_ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 20))
        + chunk(b"IEND", b"")
    )
    assert decode_png(pal) is None


def test_image_features_decodes_png(spark):
    from html_parser_spark.core.image import synth_png
    from html_parser_spark.operators.multimodal import image_features

    rows = [
        ("rgb", bytearray(synth_png(5, 6, (10, 20, 30)))),
        ("rgba", bytearray(synth_png(3, 7, (40, 50, 60), rgba=True))),
    ]
    df = spark.createDataFrame(rows, "doc_id string, payload binary")
    got = {r["doc_id"]: r for r in image_features(df).collect()}
    a = got["rgb"]
    assert (a["format"], a["outcome"], a["width"], a["height"], a["n_px"]) == (
        "png", "decoded", 5, 6, 30)
    assert (a["sum_r"], a["sum_g"], a["sum_b"]) == (
        10 * 29 + 255, 20 * 29 + 255, 30 * 29 + 255)
    b = got["rgba"]
    assert (b["n_px"], b["sum_r"]) == (21, 40 * 20 + 255)  # alpha excluded


def test_gif_round_trip_including_interlace():
    """Property: random dims/fills round-trip through the GIF writer/LZW
    decoder, plain and interlaced; frame counting walks without decoding."""
    import numpy as np

    from html_parser_spark.core.gif import decode_gif, gif_frame_count, synth_gif

    rng = np.random.RandomState(17)
    for _ in range(20):
        w, h = int(rng.randint(1, 40)), int(rng.randint(1, 40))
        fill = tuple(int(x) for x in rng.randint(0, 256, 3))
        il = bool(rng.randint(0, 2))
        data = synth_gif(w, h, fill, interlace=il)
        img = decode_gif(data)
        assert img is not None and img.shape == (h, w, 3)
        want = np.zeros((h, w, 3), np.uint8)
        want[:, :] = fill
        want[0, 0] = 255
        assert (img == want).all()
        assert gif_frame_count(data) == 1


def test_gif_lzw_property():
    """LZW encode/decode round-trips arbitrary index streams at every
    min-code-size, across the width-growth and table-reset boundaries."""
    import numpy as np

    from html_parser_spark.core.gif import _lzw_decode, _lzw_encode

    rng = np.random.RandomState(23)
    for _ in range(30):
        bits = int(rng.randint(2, 9))
        n = int(rng.randint(1, 8000))
        data = rng.randint(0, 1 << bits, n).astype(np.uint8).tobytes()
        got = _lzw_decode(_lzw_encode(data, bits), bits, n)
        assert got is not None and bytes(got[:n]) == data


def test_gif_malformed_returns_none():
    from html_parser_spark.core.gif import decode_gif, gif_frame_count, synth_gif

    good = synth_gif(9, 7, (3, 4, 5))
    assert decode_gif(good) is not None
    assert decode_gif(b"") is None
    assert decode_gif(b"GIF89a" + b"\x00" * 4) is None
    assert decode_gif(good[:-12]) is None  # truncated mid-LZW
    assert gif_frame_count(b"GIF89a") is None


def test_image_features_decodes_gif(spark):
    from html_parser_spark.core.gif import synth_gif
    from html_parser_spark.operators.multimodal import image_features

    rows = [
        ("plain", bytearray(synth_gif(6, 5, (10, 20, 30)))),
        ("laced", bytearray(synth_gif(4, 9, (40, 50, 60), interlace=True))),
        ("jpeg", bytearray(b"\xff\xd8\xff\xe0" + b"\x00" * 8)),
    ]
    df = spark.createDataFrame(rows, "doc_id string, payload binary")
    got = {r["doc_id"]: r for r in image_features(df).collect()}
    a = got["plain"]
    assert (a["format"], a["outcome"], a["n_px"]) == ("gif", "decoded", 30)
    assert (a["sum_r"], a["sum_g"], a["sum_b"]) == (
        10 * 29 + 255, 20 * 29 + 255, 30 * 29 + 255)
    b = got["laced"]
    assert (b["outcome"], b["width"], b["height"]) == ("decoded", 4, 9)
    assert b["sum_r"] == 40 * 35 + 255
    assert got["jpeg"]["outcome"] == "codec_unavailable"


def test_png_palette_and_adam7():
    """Palette PNGs map through PLTE; Adam7 streams reconstruct exactly
    (hand-built encoders with filter-0 rows; pass geometry from the spec)."""
    import struct
    import zlib

    import numpy as np

    from html_parser_spark.core.image import decode_png

    def chunk(t, b):
        return (
            struct.pack(">I", len(b))
            + t
            + b
            + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
        )

    def png(ihdr_body, chunks):
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr_body)
            + b"".join(chunks)
            + chunk(b"IEND", b"")
        )

    rng = np.random.RandomState(31)
    # palette: random index image + random 5-color palette
    w, h = 11, 7
    palette = rng.randint(0, 256, (5, 3)).astype(np.uint8)
    idx = rng.randint(0, 5, (h, w)).astype(np.uint8)
    lines = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
    data = png(
        struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0),
        [chunk(b"PLTE", palette.tobytes()), chunk(b"IDAT", zlib.compress(lines))],
    )
    got = decode_png(data)
    assert got is not None and (got == palette[idx]).all()
    # out-of-range palette index -> None
    bad_idx = idx.copy()
    bad_idx[0, 0] = 5
    lines = b"".join(b"\x00" + bad_idx[y].tobytes() for y in range(h))
    bad = png(
        struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0),
        [chunk(b"PLTE", palette.tobytes()), chunk(b"IDAT", zlib.compress(lines))],
    )
    assert decode_png(bad) is None

    # Adam7: encode an arbitrary RGB image pass by pass (filter 0)
    ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
             (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    for w, h in [(9, 10), (1, 1), (8, 8), (17, 3), (2, 13)]:
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        raw = bytearray()
        for x0, y0, dx, dy in ADAM7:
            sub = img[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            for y in range(sub.shape[0]):
                raw += b"\x00" + sub[y].tobytes()
        data = png(
            struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1),
            [chunk(b"IDAT", zlib.compress(bytes(raw)))],
        )
        got = decode_png(data)
        assert got is not None and (got == img).all(), (w, h)


def test_gif_multiframe_and_frame_stats(spark):
    """Multi-frame GIFs: descriptor count without pixel decompression,
    first frame decodes with the GLOBAL palette (later frames use rotated
    local tables and leave frame-0 output unchanged)."""
    from html_parser_spark.core.gif import decode_gif, gif_frame_count, synth_gif
    from html_parser_spark.operators.multimodal import gif_frame_stats

    for frames in (1, 3):
        b = synth_gif(7, 5, (10, 20, 30), frames=frames)
        assert gif_frame_count(b) == frames
        img = decode_gif(b)
        assert img is not None and tuple(img[1, 1]) == (10, 20, 30)
        assert tuple(img[0, 0]) == (255, 255, 255)

    rows = [
        ("anim", bytearray(synth_gif(6, 4, (1, 2, 3), frames=4))),
        ("bad", bytearray(b"GIF89a truncated")),
    ]
    df = spark.createDataFrame(rows, "doc_id string, payload binary")
    got = {r.doc_id: r for r in gif_frame_stats(df).collect()}
    a = got["anim"]
    assert (a.outcome, a.n_frames, a.width, a.height) == ("decoded", 4, 6, 4)
    assert got["bad"].outcome == "undecodable"
