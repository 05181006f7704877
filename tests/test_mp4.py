"""MP4 / ISO-BMFF container codec tests: pure-python round trips for the box
walker and sample tables, plus the Spark-side oracle contract (decode summary
digests and real frame sampling from the container index).

Reference analog: binary payloads flow opaque end to end (PipeCodec,
msg_data); the container plumbing here is the training-pipeline extension."""

from __future__ import annotations

import hashlib
import struct

import pytest

from aqueduct_core_spark.functions.multimodal import (
    _mp4_stsc_runs,
    decode_media,
    decode_mp4,
    mp4_bytes,
)


def test_mp4_roundtrip_identical_frames():
    t = b"hello mp4 container"
    d = decode_mp4(mp4_bytes([t] * 3))
    assert d["samples"] == [t] * 3
    assert d["width"] == len(t) and d["height"] == 1
    assert d["fourcc"] == "gry8" and d["handler"] == "vide"
    # 3 samples chunked 2-per-chunk -> 2 chunks, and the trailing short
    # chunk forces a second stsc run
    assert d["n_samples"] == 3 and d["n_chunks"] == 2
    assert d["timescale"] == 1000 and d["duration"] == 120
    assert d["duration_ms"] == 120


def test_mp4_unequal_frames_per_sample_stsz_and_multi_run_stsc():
    frames = [b"a" * 7, b"bb" * 3, b"c", b"dddd", b"ee"]
    d = decode_mp4(mp4_bytes(frames, samples_per_chunk=2))
    assert d["samples"] == frames
    assert d["n_chunks"] == 3
    # chunks of (2,2,1) compress to exactly two stsc runs
    assert _mp4_stsc_runs([2, 2, 1]) == [(1, 2), (3, 1)]
    # and a uniform run compresses to one entry regardless of length
    assert _mp4_stsc_runs([4, 4, 4]) == [(1, 4)]


def test_mp4_corner_shapes_co64_largesize_v1():
    """64-bit chunk offsets (co64), a size==1/u64 mdat header, and version-1
    mvhd/mdhd/tkhd (64-bit times) all decode to the same samples."""
    frames = [b"a" * 7, b"bb" * 3, b"c", b"dddd", b"ee"]
    base = decode_mp4(mp4_bytes(frames))
    for kw in (
        dict(co64=True),
        dict(largesize_mdat=True),
        dict(version1=True),
        dict(co64=True, largesize_mdat=True, version1=True),
    ):
        d = decode_mp4(mp4_bytes(frames, **kw))
        assert d["samples"] == frames, kw
        assert (d["width"], d["duration"], d["timescale"]) == (
            base["width"],
            base["duration"],
            base["timescale"],
        ), kw


def test_mp4_empty_frames_use_size_table():
    # sample_size == 0 is reserved for "per-sample table follows": zero-byte
    # frames must not take the constant-size shortcut
    d = decode_mp4(mp4_bytes([b""] * 3))
    assert d["samples"] == [b""] * 3 and d["width"] == 0


def test_mp4_rejects_malformed():
    good = mp4_bytes([b"abc"] * 2)
    with pytest.raises(ValueError, match="ftyp"):
        decode_mp4(b"\x00\x00\x00\x08abcd")
    with pytest.raises(ValueError, match="fragmented"):
        decode_mp4(good + struct.pack(">I", 8) + b"moof")
    with pytest.raises(ValueError):
        decode_mp4(good[:40])  # truncated mid-mdat: no moov
    # a box whose declared size overruns its container
    bad = bytearray(good)
    bad[0:4] = struct.pack(">I", len(good) + 64)
    with pytest.raises(ValueError, match="overruns"):
        decode_mp4(bytes(bad))


def test_mp4_video_features_builtin():
    f = decode_media(mp4_bytes([bytes(range(10))] * 3), "video", use_real=True, dim=8)
    assert f[0] == 10.0 and f[1] == 1.0 and f[2] == 3.0
    assert abs(f[3] - 4.5) < 1e-6 and abs(f[4] - 4.5) < 1e-6


def test_mp4_decode_summary_and_frame_sample(spark):
    """The multimodal_decode_mp4 oracle contract locally: every sample's
    bytes md5-round-trip the text (md5(text*3)) through the stsc/stco chunk
    walk, MP4 payloads feed the builtin real video-feature path, and
    frame_sample fans one container out to its every-n-th samples."""
    from pyspark.sql import functions as F

    from aqueduct_core_spark.functions.multimodal import (
        decode_real_summary,
        docs_to_media,
        extract_features,
        frame_sample,
    )

    rows = [(0, "hello mp4"), (1, "caffé"), (2, "y" * 300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    media = docs_to_media(docs, "mp4")
    out = {r["media_id"]: r for r in decode_real_summary(media).collect()}
    for did, text in rows:
        b = text.encode("utf-8")
        r = out[did]
        assert r["kind"] == "video"
        assert r["n_units"] == len(b) and r["rate"] == 3 and r["duration_ms"] == 120
        assert r["content_md5"] == hashlib.md5(b * 3).hexdigest()

    feats = {
        r["media_id"]: r
        for r in extract_features(media, dim=8, use_real=True).collect()
    }
    assert feats[2]["features"][:3] == [300.0, 1.0, 3.0]  # w, h, n_samples
    assert abs(feats[2]["features"][3] - ord("y")) < 1e-6

    frames = frame_sample(media, "mp4", every_n=2).withColumn(
        "frame_md5", F.md5(F.col("frame_bytes"))
    )
    got = {(r["media_id"], r["frame_idx"]): r["frame_md5"] for r in frames.collect()}
    assert set(got) == {(d, f) for d, _ in rows for f in (0, 2)}
    for did, text in rows:
        for f in (0, 2):
            assert got[(did, f)] == hashlib.md5(text.encode("utf-8")).hexdigest()
