"""Every multimodal_* contract query against its DuckDB oracle twin at
sf0.001, compared the way tools/check_oracles.py compares them (column
names, then order-insensitive normalised rows), plus the payload bytes of
every media fixture behind them and the decoders' failure contract on
mutated payloads. The full gate over every entry is
`python tools/check_oracles.py <sf_dir>`."""

from __future__ import annotations

import hashlib
import os
import random
import signal
import struct

import pytest

import __spark_entry__ as entry
from aqueduct_core_spark.functions.multimodal import (
    MEDIA_FIXTURES,
    _lookup,
    bmp_bytes,
    decode_media,
    gif_bytes,
    jpeg_bytes,
)
from tools.check_oracles import norm_rows

SF_DIR = "/root/testdata/sf0.001"
NAMES = [n for n in entry.queries() if n.startswith("multimodal_")]


@pytest.fixture(scope="module")
def duck():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"no testdata at {SF_DIR}")
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    yield con
    con.close()


def test_fourteen_multimodal_entries():
    assert len(NAMES) == 14


@pytest.mark.parametrize("name", NAMES)
def test_multimodal_entry_matches_oracle(spark, duck, name):
    sdf = entry.queries()[name](spark, SF_DIR)
    scols = [c.lower() for c in sdf.columns]
    rel = duck.sql(entry.oracle_sql()[name])
    dcols = [c.lower() for c in rel.columns]
    assert sorted(scols) == sorted(dcols)
    assert norm_rows(scols, [tuple(r) for r in sdf.collect()]) == norm_rows(dcols, rel.fetchall())


#: (doc_id, text) inputs covering both doc_id parities and all three
#: residues mod 3 (the fixtures switch container / color type on them),
#: empty text, a non-ASCII byte and a long varied text
PAYLOAD_INPUTS = [
    (0, "hello world"),
    (1, "caffé"),
    (2, ""),
    (5, "x" * 300),
    (7, "".join(chr(32 + i * 7 % 95) for i in range(1200))),
]

#: md5 over kind + payload + repr(sorted(meta)) of every input, in order.
#: The oracles check decoded content only; these pin the encoded bytes.
PAYLOAD_MD5 = {
    "wav_ppm": "6a5ddfaac80a22354645ee2da78af4b5",
    "jpeg": "07e608624afafdf5b31295f7c46c7486",
    "jpeg_color": "be23193eb14995dc8e335f0831b15590",
    "jpeg420": "d246a292864c7df51d6f48e3d2d6b578",
    "jpeg_progressive": "39cee64021f3713f7eb028a47763c002",
    "png": "72d29a635fcfe018203077c53522a4c8",
    "png_adam7": "caaf6d37e10566f46fb062fc8a681143",
    "gif": "381e444352edd81613d3e6a65f766b51",
    "mp4": "efe8758259f8729d4feefbad237d07d1",
    "mp3": "8929a8df63787719a817173868fec97a",
    "g711": "a64cbda12e6fa634a34875a36fb13f1c",
}


@pytest.mark.parametrize("fixture", sorted(MEDIA_FIXTURES))
def test_fixture_payload_bytes_pinned(fixture):
    h = hashlib.md5()
    for did, text in PAYLOAD_INPUTS:
        kind, payload, meta = MEDIA_FIXTURES[fixture](did, text.encode("utf-8"))
        h.update(kind.encode() + payload + repr(sorted(meta.items())).encode())
    assert h.hexdigest() == PAYLOAD_MD5[fixture]


def _bombs():
    """A few hundred bytes that declare gigabytes: a GIF and a BMP canvas,
    and a JPEG frame, of 60000x60000 (50000x50000 for the BMP), plus a
    2400x8 baseline JPEG whose SOF0 height is flipped to 1032 (its one MCU
    row of scan data then has to cover 129)."""
    gif = bytearray(gif_bytes(b"ab", height=2))
    struct.pack_into("<HH", gif, 6, 60000, 60000)
    bmp = bytearray(bmp_bytes(b"abc"))
    struct.pack_into("<ii", bmp, 18, 50000, 50000)
    jpeg = bytearray(jpeg_bytes(b"ab"))
    struct.pack_into(">HH", jpeg, jpeg.index(b"\xff\xc0") + 5, 60000, 60000)
    tall = bytearray(jpeg_bytes(b"x" * 300))
    tall[tall.index(b"\xff\xc0") + 5] ^= 0x04
    return [("video", bytes(gif)), ("image", bytes(bmp)), ("image", bytes(jpeg)), ("image", bytes(tall))]


def _mutations(fixture: str, per_input: int = 80):
    """(kind, payload) for seeded truncations and single-bit flips of the
    fixture's payloads over three short inputs."""
    rng = random.Random(fixture)
    for did, text in PAYLOAD_INPUTS[:3]:
        kind, payload, _meta = MEDIA_FIXTURES[fixture](did, text.encode("utf-8"))
        for _ in range(per_input):
            if rng.random() < 0.3:
                yield kind, payload[: rng.randrange(len(payload))]
            else:
                bit = rng.randrange(8 * len(payload))
                flipped = bytearray(payload)
                flipped[bit // 8] ^= 1 << (bit % 8)
                yield kind, bytes(flipped)


def _every_path(payload: bytes, kind: str) -> None:
    """What the entry points do with one payload: features through
    decode_media, then the summary and frames of its _CODECS row."""
    decode_media(payload, kind, use_real=True, dim=16)
    _name, codec = _lookup(payload)
    decoded = codec.decode(payload)
    if codec.summary is not None:
        codec.summary(decoded)
    if codec.frames is not None:
        codec.frames(decoded)


@pytest.mark.parametrize("fixture", sorted(MEDIA_FIXTURES))
def test_mutated_payloads_decode_or_refuse(fixture):
    """The decode boundary's contract: every truncated or bit-flipped payload
    and every size bomb decodes or raises ValueError, within 2 s each."""

    def timeout(signum, frame):
        raise TimeoutError("over 2 s")

    previous = signal.signal(signal.SIGALRM, timeout)
    escaped = []
    try:
        for i, (kind, payload) in enumerate([*_mutations(fixture), *_bombs()]):
            signal.alarm(2)
            try:
                _every_path(payload, kind)
            except ValueError:
                pass
            except Exception as e:  # noqa: BLE001 - the contract under test
                escaped.append((i, len(payload), f"{type(e).__name__}: {e}"))
            finally:
                signal.alarm(0)
    finally:
        signal.signal(signal.SIGALRM, previous)
    assert escaped == []
