"""MP3 frame-header walk and MP4 box-tree walk (core/av.py) plus their
Spark operators (operators/multimodal.attach_mp3/mp3_frame_stats,
attach_mp4/mp4_box_stats)."""

from __future__ import annotations

import hashlib

from html_parser_spark.core.av import (
    mp3_info,
    walk_boxes,
    mp4_info,
    synth_mp3,
    synth_mp4,
)


def test_mp3_roundtrip_closed_forms():
    for n, bi, ri, id3 in [(3, 1, 0, None), (8, 14, 1, 0), (5, 9, 2, 200)]:
        data = synth_mp3(n, bi, ri, id3_size=id3)
        d = mp3_info(data)
        kbps = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)[bi]
        rate = (44100, 48000, 32000)[ri]
        assert d == {
            "bitrate_kbps": kbps,
            "sample_rate": rate,
            "n_frames": n,
            "duration_us": n * 1152 * 1_000_000 // rate,
            "n_bytes": n * (144_000 * kbps // rate),
            "has_id3": 0 if id3 is None else 1,
            "is_cbr": 1,
        }


def test_mp3_vbr_truncation_and_garbage():
    cbr = synth_mp3(4, 9, 0)
    flen = 144_000 * 128 // 44100
    # splice a 192kbps frame after two 128kbps frames -> VBR, 3 frames read
    vbr = cbr[: 2 * flen] + synth_mp3(1, 11, 0) + b"\xde\xad"
    d = mp3_info(vbr)
    assert d["n_frames"] == 3 and d["is_cbr"] == 0 and d["bitrate_kbps"] == 128
    # truncated mid-frame: only the complete frames count
    assert mp3_info(cbr[: 2 * flen + 10])["n_frames"] == 2
    assert mp3_info(b"") is None and mp3_info(b"\xff\xfb") is None
    assert mp3_info(b"ID3\x04\x00\x00\x00\x00\x00\x05hello") is None


def test_mp4_roundtrip_and_malformed():
    m = synth_mp4(width=640, height=480, timescale=90000, duration=450000, n_samples=30)
    assert mp4_info(m) == {
        "brand": "isom",
        "timescale": 90000,
        "duration_us": 5_000_000,
        "n_tracks": 1,
        "width": 640,
        "height": 480,
        "n_samples": 30,
    }
    # walker never raises and never needs mdat: drop the trailing mdat box
    moov_only = m[: m.find(b"mdat") - 4]
    assert mp4_info(moov_only)["n_samples"] == 30
    assert mp4_info(b"") is None
    assert mp4_info(b"\x00\x00\x00\x08free") is None  # no moov
    assert mp4_info(m[:40]) is None


def test_mp4_largesize_box_and_unknown_boxes():
    m = synth_mp4(width=32, height=32, timescale=600, duration=600, n_samples=2)
    # rewrite mdat with a 64-bit largesize header; prepend an unknown box
    i = m.find(b"mdat") - 4
    body = m[i + 8 :]
    large = (
        (1).to_bytes(4, "big")
        + b"mdat"
        + (16 + len(body)).to_bytes(8, "big")
        + body
    )
    junk = (16).to_bytes(4, "big") + b"skip" + b"\x00" * 8
    d = mp4_info(junk + m[:i] + large)
    assert d is not None and d["width"] == 32 and d["n_samples"] == 2


def test_box_size_below_its_header_ends_the_walk():
    """A largesize box (size field 1) whose 64-bit size, 12, does not
    cover its own 16-byte header ends the walk: no box whose body starts
    past its end, and no phantom box read from inside the largesize."""
    data = (1).to_bytes(4, "big") + b"ftyp" + (12).to_bytes(8, "big") + b"isom" + bytes(4)
    assert list(walk_boxes(data, 0, len(data))) == []
    assert mp4_info(data + synth_mp4(32, 32, 600, 600, 2)) is None


def test_spark_mp3_mp4_end_to_end(spark):
    from html_parser_spark.operators.multimodal import (
        attach_mp3,
        attach_mp4,
        mp3_frame_stats,
        mp4_box_stats,
    )

    docs = spark.createDataFrame(
        [(i, f"doc text {i}") for i in range(20)], "doc_id long, text string"
    )
    got3 = {r.doc_id: r for r in mp3_frame_stats(attach_mp3(docs)).collect()}
    got4 = {r.doc_id: r for r in mp4_box_stats(attach_mp4(docs)).collect()}
    assert len(got3) == len(got4) == 20
    for i in range(20):
        b3 = hashlib.md5(f"doc text {i}mp3".encode()).digest()
        r3 = got3[str(i)]
        assert r3.outcome == "parsed"
        assert r3.n_frames == 3 + b3[0] % 6
        assert r3.has_id3 == b3[3] % 2
        b4 = hashlib.md5(f"doc text {i}mp4".encode()).digest()
        r4 = got4[str(i)]
        assert r4.outcome == "parsed"
        assert (r4.width, r4.height) == (16 * (1 + b4[0] % 40), 16 * (1 + b4[1] % 30))
        scale = (600, 1000, 90000)[b4[2] % 3]
        assert r4.duration_us == (100 + 10 * b4[3]) * 1_000_000 // scale


def test_id3v2_roundtrip_versions_and_encodings():
    from html_parser_spark.core.av import id3v2_text_frames, synth_id3v2, synth_mp3

    for ver in (3, 4):
        for enc in (0, 1, 3):
            fields = {"TIT2": "trk-ab12", "TPE1": "artist-7",
                      ("TDRC" if ver == 4 else "TYER"): "1999"}
            tag = synth_id3v2(fields, version=ver, encoding=enc, padding=9)
            d = id3v2_text_frames(tag + synth_mp3(4, 5, 1))
            assert d["version"] == ver
            assert d["frames"] == fields
            assert d["tag_bytes"] == len(tag)


def test_id3v2_degrade_paths():
    from html_parser_spark.core.av import id3v2_text_frames, synth_id3v2

    # no tag / unsupported version / malformed syncsafe -> None, never raise
    assert id3v2_text_frames(b"") is None
    assert id3v2_text_frames(b"\xff\xfb\x52\x00") is None
    assert id3v2_text_frames(b"ID3\x05\x00\x00\x00\x00\x00\x00") is None
    assert id3v2_text_frames(b"ID3\x04\x00\x00\x00\x00\x00\x80") is None
    # progressive truncation never raises
    tag = synth_id3v2({"TIT2": "x" * 30, "TALB": "y"}, version=4, encoding=1)
    for cut in range(0, len(tag), 3):
        id3v2_text_frames(tag[:cut])
    # a non-text frame is skipped by size, following text frame still read
    import struct
    body = b"APIC" + struct.pack(">I", 3) + b"\x00\x00" + b"img" \
         + b"TIT2" + struct.pack(">I", 2) + b"\x00\x00" + b"\x03z"
    raw = b"ID3\x03\x00\x00" + bytes(
        [(len(body) >> 21) & 0x7F, (len(body) >> 14) & 0x7F,
         (len(body) >> 7) & 0x7F, len(body) & 0x7F]) + body
    d = id3v2_text_frames(raw)
    assert d["frames"] == {"TIT2": "z"}


def test_id3_spark_operator_outcomes(spark):
    from html_parser_spark.core.av import synth_mp3
    from html_parser_spark.operators.multimodal import attach_mp3_id3, id3_meta_stats
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id bigint, text string"
    )
    rows = {r.doc_id: r for r in id3_meta_stats(attach_mp3_id3(docs)).collect()}
    assert all(r.outcome == "parsed" for r in rows.values())
    assert all(r.version in (3, 4) for r in rows.values())
    assert all(1970 <= r.year <= 2024 for r in rows.values())

    schema = StructType(
        [StructField("doc_id", StringType()), StructField("payload", BinaryType())]
    )
    mixed = spark.createDataFrame(
        [("g", bytearray(b"garbage")), ("p", bytearray(synth_mp3(3, 5, 1)))], schema
    )
    got = {r.doc_id: (r.outcome, r.n_frames) for r in id3_meta_stats(mixed).collect()}
    assert got == {"g": ("unparseable", None), "p": ("no_tag", 3)}
