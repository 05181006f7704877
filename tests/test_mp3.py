"""MPEG audio (MP3) frame-walk tests: pure-python round trips for the header
field split, the bitrate/sample-rate tables across all versions and layers,
the exact frame-length arithmetic, CRC slots, free-format sync-scan sizing,
ID3v2/ID3v1 tag skipping — plus the Spark-side oracle contract (decode
summary digests over the documents-built media table).

Reference analog: binary payloads flow opaque end to end (PipeCodec,
msg_data); the frame plumbing here is the training-pipeline extension."""

from __future__ import annotations

import hashlib

import pytest

from aqueduct_core_spark.functions.multimodal import (
    _ID3V1_STUB,
    decode_media,
    decode_mp3,
    id3v2_bytes,
    mp3_frame_bytes,
    mp3_frame_len,
    mp3_free_bytes,
)


def test_mp3_cbr_roundtrip_with_padding_bits():
    """MPEG-1 Layer III 128 kbps @ 44.1 kHz: the classic 417/418-byte frames
    (padding bit alternating) walk back to their exact data bytes."""
    assert mp3_frame_len("1", 3, 9, 0, 0) == 417  # 144*128000//44100
    assert mp3_frame_len("1", 3, 9, 0, 1) == 418
    f0 = bytes([i & 0x7F for i in range(413)])
    f1 = bytes([(i * 7) & 0x7F for i in range(414)])
    d = decode_mp3(
        mp3_frame_bytes(f0, bitrate_idx=9, sr_idx=0, padding=0)
        + mp3_frame_bytes(f1, bitrate_idx=9, sr_idx=0, padding=1)
        + mp3_frame_bytes(f0, bitrate_idx=9, sr_idx=0, padding=0)
    )
    assert d["frames"] == [f0, f1, f0]
    assert d["version"] == "1" and d["layer"] == 3
    assert d["sample_rate"] == 44100 and d["channels"] == 1
    assert d["bitrate_kbps"] == 128 and not d["vbr"] and not d["free_format"]
    assert d["samples_per_frame"] == 1152 and d["n_samples"] == 3456
    assert d["duration_ms"] == 3456 * 1000 // 44100  # 78


def test_mp3_frame_length_tables_all_versions_layers():
    """Spot-check the spec arithmetic: Layer I counts 4-byte slots; Layer III
    under MPEG-2/2.5 uses the 72 factor (576 samples/frame); MPEG-2.5 rides
    the MPEG-2 bitrate table at its own sample rates."""
    # MPEG-1 Layer I, 32 kbps @ 32 kHz: (12*32000/32000 + pad) * 4
    assert mp3_frame_len("1", 1, 1, 2, 0) == 48
    assert mp3_frame_len("1", 1, 1, 2, 1) == 52
    # MPEG-2 Layer III, 64 kbps @ 16 kHz: 72*64000/16000
    assert mp3_frame_len("2", 3, 8, 2, 0) == 288
    # MPEG-2.5 Layer III, 8 kbps @ 8 kHz: 72*8000/8000
    assert mp3_frame_len("2.5", 3, 1, 2, 0) == 72
    # MPEG-2 Layer II keeps the 144 factor
    assert mp3_frame_len("2", 2, 8, 0, 0) == 144 * 64000 // 22050

    body = bytes(288 - 4)
    d = decode_mp3(mp3_frame_bytes(body, version="2", layer=3, bitrate_idx=8, sr_idx=2) * 2)
    assert d["samples_per_frame"] == 576 and d["sample_rate"] == 16000
    assert d["duration_ms"] == 2 * 576 * 1000 // 16000  # 72
    assert d["frames"] == [body, body]

    l1 = bytes(44)
    d1 = decode_mp3(mp3_frame_bytes(l1, version="1", layer=1, bitrate_idx=1, sr_idx=2))
    assert d1["layer"] == 1 and d1["samples_per_frame"] == 384
    assert d1["frames"] == [l1]


def test_mp3_crc_slot_skipped():
    body = bytes(range(100)) + bytes(413 - 2 - 100)
    d = decode_mp3(mp3_frame_bytes(body, bitrate_idx=9, sr_idx=0, crc=True))
    assert d["frames"] == [body]


def test_mp3_vbr_walk():
    """Mixed bitrate indices per frame (VBR) walk exactly; the constant-rate
    field reports 0 and the vbr flag is set."""
    f128 = bytes(413)
    f160 = bytes(mp3_frame_len("1", 3, 10, 0, 0) - 4)
    d = decode_mp3(
        mp3_frame_bytes(f128, bitrate_idx=9, sr_idx=0)
        + mp3_frame_bytes(f160, bitrate_idx=10, sr_idx=0)
    )
    assert d["vbr"] and d["bitrate_kbps"] == 0
    assert [len(f) for f in d["frames"]] == [413, len(f160)]


def test_mp3_free_format_with_id3_tags():
    """Free-format frames (arbitrary constant size, bitrate index 0) sized by
    the same-header sync scan, between an ID3v2.3 tag and an ID3v1 trailer."""
    t = "caffé mp3 stream".encode("utf-8")
    payload = id3v2_bytes({"TIT2": "doc 7", "TALB": "corpus"}) + mp3_free_bytes([t] * 4) + _ID3V1_STUB
    d = decode_mp3(payload)
    assert d["frames"] == [t] * 4
    assert d["free_format"] and d["bitrate_kbps"] == 0 and not d["vbr"]
    assert d["has_id3v2"] and d["has_id3v1"]
    assert d["sample_rate"] == 32000 and d["version"] == "1" and d["layer"] == 3
    assert d["duration_ms"] == 4 * 1152 * 1000 // 32000  # 144


def test_mp3_rejects_malformed():
    good = mp3_frame_bytes(bytes(413), bitrate_idx=9, sr_idx=0)
    with pytest.raises(ValueError, match="sync"):
        decode_mp3(b"\x00\x00\x00\x00" + good)
    with pytest.raises(ValueError, match="reserved MPEG version"):
        decode_mp3(b"\xff\xeb" + good[2:])  # version bits 01
    with pytest.raises(ValueError, match="reserved bitrate"):
        decode_mp3(b"\xff\xfb\xf0\xc0" + bytes(413))  # bitrate idx 15
    with pytest.raises(ValueError, match="overruns"):
        decode_mp3(good[:200])
    with pytest.raises(ValueError, match="truncated"):
        decode_mp3(good + b"\xff\xfb")
    with pytest.raises(ValueError, match="mid-stream"):
        # second frame switches to MPEG-2 @ 16 kHz
        decode_mp3(good + mp3_frame_bytes(bytes(284), version="2", layer=3, bitrate_idx=8, sr_idx=2))
    with pytest.raises(ValueError, match="0xFF"):
        mp3_free_bytes([b"bad\xffsync"])
    with pytest.raises(ValueError, match="exactly"):
        mp3_frame_bytes(bytes(10), bitrate_idx=9, sr_idx=0)


def test_mp3_audio_features_builtin():
    t = bytes([60] * 20)
    f = decode_media(mp3_free_bytes([t] * 3), "audio", use_real=True, dim=8)
    assert f[0] == 32000.0 and f[1] == 1.0 and f[2] == 3.0  # rate, mono, layer
    assert f[3] == 3 * 1152 and f[4] == 108.0  # samples, duration_ms
    assert abs(f[5] - 60.0) < 1e-6  # first frame's byte mean


def test_mp3_decode_summary_oracle_contract(spark):
    """The multimodal_decode_mp3 oracle contract locally: every frame's bytes
    md5-round-trip the text (md5(text*3)) through tag skip + free-format
    frame walk; n_units/rate/duration match the SQL twin's constants."""
    from aqueduct_core_spark.functions.multimodal import (
        decode_real_summary,
        docs_to_media,
    )

    rows = [(0, "hello mp3"), (1, "caffé"), (2, "z" * 500)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    media = docs_to_media(docs, "mp3")
    out = {r["media_id"]: r for r in decode_real_summary(media).collect()}
    for did, text in rows:
        b = text.encode("utf-8")
        r = out[did]
        assert r["kind"] == "audio"
        assert r["n_units"] == len(b) and r["rate"] == 32000 and r["duration_ms"] == 108
        assert r["content_md5"] == hashlib.md5(b * 3).hexdigest()
