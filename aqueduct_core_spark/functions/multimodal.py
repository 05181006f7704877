"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are `binary` columns with a `meta` map. Decode /
feature-extract / resize / frame-sample run as Arrow-batched functions over
`mapInPandas` so payload bytes never round-trip through per-row Python.

Decode comes in three tiers:
  * REAL, lib-free: WAV (RIFF chunk walk + PCM + G.711), PPM (P6), BMP
    (24-bpp), PNG (zlib + all five predictors + Adam7), DCT JPEG (baseline
    SOF0 incl. YCbCr subsampling and restart intervals, and progressive
    SOF2 — one stream writer, one decoder: one marker walk, one
    coefficient store, one IDCT), animated GIF (LZW), the MP4/ISO-BMFF
    container (box walk + sample tables + per-sample byte extraction —
    frame SELECTION without a codec) and the MP3 frame walk are parsed in
    pure numpy/stdlib — `use_real=True` is a genuinely exercised path,
    oracle-gated end to end. One table, `_CODECS[container]`, holds each
    container's decoder, summary, features and frames; one magic-byte sniff
    (`_container`) picks the row, and one decode boundary turns every parse
    failure of malformed bytes into ValueError.
  * REAL, pluggable: compressed-video/audio BITSTREAMS inside containers
    (H.26x, AAC, mp3) dispatch through `register_decoder` — Pillow/ffmpeg
    plug in on a cluster; an unregistered kind raises NotImplementedError.
  * FAKE: the default deterministic stand-in derives features from the payload
    digest (stable across runs/cluster sizes) for plumbing tests and benches.
"""

from __future__ import annotations

import functools
import hashlib
import struct
import zlib
from operator import itemgetter
from typing import Callable, Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("meta", MapType(StringType(), StringType()), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", IntegerType(), False),
        StructField("features", ArrayType(FloatType()), False),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_bytes", BinaryType(), False),
    ]
)


# ------------------------------------------------------------- codec table
# One row per container `_container` names. `decode` is the public decode_*
# behind the one decode boundary; the other three read what it returns:
#   summary(decoded) -> (content bytes, n_units, rate, duration_ms), the
#     decode_real_summary columns;
#   features(decoded, k) -> (5-value head, at most k series values), which
#     decode_media packs into `dim` floats;
#   frames(decoded) -> list of frame bytes, what frame_sample fans out.


class _Codec(NamedTuple):
    kind: str  # image | audio | video
    decode: Callable[[bytes], dict]
    features: Callable[[dict, int], tuple[list, list]]
    summary: Callable[[dict], tuple[bytes, int, int, int]] | None
    frames: Callable[[dict], list[bytes]] | None


_CODECS: dict[str, _Codec] = {}

#: Pillow's decompression-bomb rule (Image.MAX_IMAGE_PIXELS) at the scale of
#: pure-numpy decoders: a GIF, PNG or JPEG canvas above this many pixels is
#: refused before anything is allocated for it
_MAX_PIXELS = 1 << 24


def _codec(container: str, kind: str, features, summary=None, frames=None):
    """Register the decorated decoder as `container`'s _CODECS row, behind the
    one decode boundary: the struct, zlib, index, key and overflow errors that
    malformed bytes raise mid-parse leave as ValueError("malformed
    <container>: ..."), so every caller catches one exception type."""

    def register(decode):
        @functools.wraps(decode)
        def guarded(payload: bytes) -> dict:
            try:
                return decode(payload)
            except (struct.error, zlib.error, IndexError, KeyError, OverflowError) as e:
                raise ValueError(f"malformed {container}: {type(e).__name__}: {e}") from e

        _CODECS[container] = _Codec(kind, guarded, features, summary, frames)
        return guarded

    return register


def _split_stats(x: np.ndarray, k: int, stat) -> list[float]:
    """`stat` of each of k near-equal chunks of x (0.0 for an empty chunk)."""
    return [float(stat(c)) if c.size else 0.0 for c in (np.array_split(x, k) if k and x.size else [])]


def _byte_means(chunks) -> list[float]:
    return [float(np.frombuffer(c, np.uint8).mean()) if len(c) else 0.0 for c in chunks]


def _first_plane(px: np.ndarray) -> np.ndarray:
    """Gray pixels, or the first channel (R, or Y for JPEG) of color ones."""
    return px[..., 0] if px.ndim == 3 else px


def _image_features(img: dict, k: int):
    """[width, height, mean R, mean G, mean B] + grayscale block means."""
    px = img["pixels"]
    if px.ndim == 2:
        px = np.repeat(px[:, :, None], 3, axis=2)  # gray->RGB
    flat = px.reshape(-1, 3).astype(np.float64)
    means = flat.mean(axis=0) if flat.size else np.zeros(3)
    return [img["width"], img["height"], *means], _split_stats(flat.mean(axis=1), k, np.mean)


def _video_features(frames):
    """Features over a video row's `frames`: [width, height, n_frames,
    first-frame mean, last-frame mean] + per-frame gray means. For MP4 the
    frames are the sample bytes; reading them as gray values is the
    registry-seam stand-in for the codec."""

    def features(video: dict, k: int):
        means = _byte_means(frames(video))
        ends = [means[0], means[-1]] if means else [0.0, 0.0]
        return [video["width"], video["height"], len(means), *ends], means[:k]

    return features


# ------------------------------------------------------------- real codecs
# Pure-numpy encoders/parsers for the container formats that need NO external
# libraries. These make `use_real=True` a real, tested path (the reference has
# no multimodal surface; this is the training-data-pipeline extension).


def wav_bytes(pcm, sample_rate: int = 16000, channels: int = 1, bits: int = 8) -> bytes:
    """Minimal spec-valid RIFF/WAVE PCM writer. `pcm` is raw sample bytes
    (uint8 for bits=8, little-endian int16 for bits=16)."""
    block_align = channels * bits // 8
    data = bytes(pcm)
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, channels, sample_rate, sample_rate * block_align, block_align, bits
    )
    return (
        b"RIFF" + struct.pack("<I", 4 + len(fmt) + 8 + len(data)) + b"WAVE"
        + fmt + b"data" + struct.pack("<I", len(data)) + data
    )


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """Expansion tables computed from the G.711 segment layout (no hardcoded
    blobs): code -> linear int16 for mu-law (mu=255, bias 0x84, 8 segments)
    and A-law (A=87.6, even-bit inversion 0x55, 13-bit magnitude)."""
    codes = np.arange(256, dtype=np.int32)
    # --- mu-law: invert, split sign/segment/mantissa, undo the 0x84 bias
    u = ~codes & 0xFF
    sign = u & 0x80
    seg = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant << 3) + 0x84) << seg) - 0x84
    ulaw = np.where(sign != 0, -mag, mag).astype(np.int16)
    # --- A-law: even bits inverted on the wire; segment 0 is linear; the
    # sign convention is OPPOSITE to mu-law's (CCITT reference alaw2linear:
    # sign bit SET means positive)
    a = codes ^ 0x55
    sign = a & 0x80
    seg = (a >> 4) & 0x07
    mant = a & 0x0F
    mag = np.where(seg == 0, (mant << 4) + 8, ((mant << 4) + 0x108) << (seg - 1))
    alaw = np.where(sign != 0, mag, -mag).astype(np.int16)
    return ulaw, alaw


_ULAW_EXPAND, _ALAW_EXPAND = _g711_tables()


def g711_expand(codes: bytes, law: str) -> np.ndarray:
    """G.711 decompressor: 8-bit companded codes -> linear int16 samples."""
    table = _ULAW_EXPAND if law == "ulaw" else _ALAW_EXPAND
    return table[np.frombuffer(bytes(codes), dtype=np.uint8)]


def g711_compress(pcm: np.ndarray, law: str) -> bytes:
    """G.711 compressor (segment search over the expansion table's decision
    boundaries). Exact inverse of g711_expand on its own output: the
    code -> linear -> code round-trip is the identity for all 256 A-law
    codes (the A-law table is injective, min magnitude 8), and for all
    mu-law codes except the +0/-0 pair (0x7F and 0xFF both expand to 0 —
    inherent to mu-law, so the oracle entry rides A-law)."""
    table = _ULAW_EXPAND if law == "ulaw" else _ALAW_EXPAND
    # nearest-code by decision boundaries: codes sorted by linear value,
    # each sample mapped to the code whose quantization cell contains it
    order = np.argsort(table, kind="stable")
    levels = table[order].astype(np.int32)
    cuts = (levels[:-1] + levels[1:]) // 2
    idx = np.searchsorted(cuts, pcm.astype(np.int32), side="right")
    return order[idx].astype(np.uint8).tobytes()


def wav_g711_bytes(codes: bytes, law: str = "ulaw") -> bytes:
    """Spec-valid RIFF/WAVE G.711 writer: format tag 7 (mu-law) or 6 (A-law),
    8 kHz mono, one byte per sample — the telephony container shape."""
    fmt_tag = 7 if law == "ulaw" else 6
    data = bytes(codes)
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, fmt_tag, 1, 8000, 8000, 1, 8)
    return (
        b"RIFF" + struct.pack("<I", 4 + len(fmt) + 8 + len(data)) + b"WAVE"
        + fmt + b"data" + struct.pack("<I", len(data)) + data
    )


def _wav_summary(wav: dict):
    if wav["codec"] == "pcm":
        content = wav["samples"].tobytes()
    else:
        # companded stream: the digest gates BOTH directions — expand to
        # linear int16, then the compressor must find its way back to the
        # exact source codes
        content = g711_compress(wav["samples"], wav["codec"])
    n, rate = wav["n_samples"], wav["sample_rate"]
    return content, n, rate, n * 1000 // rate


def _wav_features(wav: dict, k: int):
    """[sample_rate, channels, bits, n_samples, duration_ms] + per-chunk RMS
    energy."""
    s = wav["samples"].astype(np.float64)
    if s.ndim > 1:
        s = s.mean(axis=1)
    n, rate = wav["n_samples"], wav["sample_rate"]
    rms = _split_stats(s, k, lambda c: np.sqrt(np.mean(c * c)))
    return [rate, wav["channels"], wav["bits"], n, n * 1000.0 / rate], rms


@_codec("wav", "audio", features=_wav_features, summary=_wav_summary)
def decode_wav(payload: bytes) -> dict:
    """RIFF/WAVE PCM parser: walks the chunk list (no fixed 44-byte layout
    assumption; skips LIST/fact/etc., honors word alignment). Returns header
    fields plus the decoded sample array (uint8 or int16, (n, channels) when
    multichannel)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _byte_rate, _block_align, bits = fmt
    if sample_rate == 0:
        raise ValueError("WAV sample rate 0")
    if audio_format in (6, 7):  # G.711 A-law / mu-law (one code byte/sample)
        codec = "alaw" if audio_format == 6 else "ulaw"
        samples = g711_expand(data, codec)  # decoded linear int16
    elif audio_format == 1 and bits in (8, 16):
        codec = "pcm"
        samples = np.frombuffer(data, dtype=np.uint8 if bits == 8 else np.dtype("<i2"))
    else:
        raise ValueError(
            f"only 8/16-bit PCM and G.711 supported (format={audio_format}, bits={bits})"
        )
    if channels > 1:
        samples = samples[: samples.size // channels * channels].reshape(-1, channels)
    return {
        "sample_rate": sample_rate,
        "channels": channels,
        "bits": bits,
        "codec": codec,
        "n_samples": int(samples.shape[0]),
        "samples": samples,
    }


def ppm_bytes(gray: bytes) -> bytes:
    """P6 PPM writer: a single row of RGB pixels with R=G=B=gray byte."""
    rgb = np.repeat(np.frombuffer(bytes(gray), dtype=np.uint8), 3).tobytes()
    return f"P6\n{len(gray)} 1\n255\n".encode() + rgb


@_codec(
    "ppm",
    "image",
    features=_image_features,
    summary=lambda img: (  # R channel
        img["pixels"][:, :, 0].tobytes(), img["width"] * img["height"], img["maxval"], img["height"]
    ),
)
def decode_ppm(payload: bytes) -> dict:
    """P6 PPM parser: whitespace/comment-tolerant header scan + raw RGB."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte after maxval per spec
    w, h, maxval = fields
    px = np.frombuffer(payload[pos : pos + w * h * 3], dtype=np.uint8)
    return {"width": w, "height": h, "maxval": maxval, "pixels": px.reshape(h, w, 3)}


def bmp_bytes(gray: bytes) -> bytes:
    """Minimal 24-bpp uncompressed BMP writer: one bottom-up row, rows padded
    to 4 bytes per spec (BGR order on disk)."""
    row = np.repeat(np.frombuffer(bytes(gray), dtype=np.uint8), 3).tobytes()
    body = row + b"\x00" * ((-len(row)) % 4)
    info = struct.pack("<IiiHHIIiiII", 40, len(gray), 1, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 54) + info + body


@_codec("bmp", "image", features=_image_features)
def decode_bmp(payload: bytes) -> dict:
    """24-bpp uncompressed BMP parser: honors pixel-array offset, per-row
    4-byte padding, bottom-up vs top-down (negative height), BGR→RGB. The
    declared rows must fit in the payload."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack("<I", payload[10:14])[0]
    _hsize, w, h, _planes, bpp, comp = struct.unpack("<IiiHHI", payload[14:34])
    if bpp != 24 or comp != 0:
        raise ValueError(f"only 24-bpp uncompressed BMP supported (bpp={bpp}, comp={comp})")
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    if w < 0 or offset + h * stride > len(payload):
        raise ValueError(f"BMP pixel array ({w}x{h}) overruns the payload")
    rows = np.frombuffer(payload[offset : offset + h * stride], np.uint8).reshape(h, stride)
    px = rows[:, : w * 3].reshape(h, w, 3)
    if flip:
        px = px[::-1]
    return {"width": w, "height": h, "pixels": px[:, :, ::-1]}  # BGR -> RGB


# ----------------------------------------------------------------- PNG
# Pure-stdlib PNG (RFC 2083 / ISO 15948): zlib is in the Python standard
# library, so unlike JPEG nothing here needs hand-rolled entropy coding —
# the codec work is the chunk grammar (length/tag/body/CRC32), the five
# scanline predictors (None/Sub/Up/Average/Paeth), the three integer color
# types (0 grayscale, 2 truecolor, 3 indexed+PLTE) and Adam7 interlacing
# (seven sub-images, each filtered independently — the progressive-JPEG
# analog on the prediction side). Bit depth 8 only; 1/2/4/16-bit packing
# and color type 4/6 alpha raise loudly instead of mis-decoding.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: Adam7 pass origins/strides (x0, y0, dx, dy), spec order
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + tag + body
        + struct.pack(">I", zlib.crc32(tag + body))
    )


def _paeth_vec(a, b, c):
    """Paeth predictor (PNG filter 4), vectorized over int16 arrays: nearest
    of (left, up, upper-left) to p = left + up - upper_left, ties broken
    left -> up -> upper-left per spec."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _png_filter_row(ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Apply filter `ftype` to one raw scanline (uint8, width*bpp bytes);
    `prev` is the RECONSTRUCTED prior scanline (zeros at a pass start)."""
    r = row.astype(np.int16)
    up = prev.astype(np.int16)
    left = np.concatenate([np.zeros(bpp, np.int16), r[:-bpp]]) if r.size else r
    ul = np.concatenate([np.zeros(bpp, np.int16), up[:-bpp]]) if up.size else up
    if ftype == 0:
        d = r
    elif ftype == 1:
        d = r - left
    elif ftype == 2:
        d = r - up
    elif ftype == 3:
        d = r - ((left + up) >> 1)
    elif ftype == 4:
        d = r - _paeth_vec(left, up, ul)
    else:
        raise ValueError(f"PNG filter type {ftype} out of range")
    return (d & 0xFF).astype(np.uint8)


def _png_unfilter_row(ftype: int, data: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Reconstruct one scanline from its filtered bytes. Up is vectorized;
    Sub reduces to a per-channel cumulative sum; Average/Paeth carry a true
    left-neighbor recurrence, so they walk the row (rows here are short —
    at scale a cluster registers a real decoder via register_decoder)."""
    n = data.size
    if ftype == 0:
        return data.copy()
    if ftype == 2:
        return ((data.astype(np.int16) + prev) & 0xFF).astype(np.uint8)
    if ftype == 1:
        # recon[i] = data[i] + recon[i-bpp]: cumsum per byte lane, mod 256
        lanes = data[: n - n % bpp].reshape(-1, bpp).astype(np.int64)
        out = np.cumsum(lanes, axis=0) & 0xFF
        return out.astype(np.uint8).reshape(-1)
    out = np.zeros(n, np.int16)
    up = prev.astype(np.int16)
    for i in range(n):
        a = out[i - bpp] if i >= bpp else 0
        b = up[i]
        c = up[i - bpp] if i >= bpp else 0
        if ftype == 3:
            pred = (a + b) >> 1
        else:  # 4 — scalar Paeth, same tie-break order as _paeth_vec
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out[i] = (int(data[i]) + pred) & 0xFF
    return out.astype(np.uint8)


def _png_pass_views(w: int, h: int, interlace: int):
    """Yield (x0, y0, dx, dy, pw, ph) for each non-empty sub-image: the seven
    Adam7 passes, or the single pass of a sequential image."""
    passes = _ADAM7 if interlace == 1 else [(0, 0, 1, 1)]
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            yield x0, y0, dx, dy, pw, ph


def png_encode(img: np.ndarray, color_type: int = 0, interlace: int = 0) -> bytes:
    """Spec-valid PNG writer over a uint8 array: (h, w) for grayscale (0) or
    indexed (3, over the identity grayscale palette), (h, w, 3) for
    truecolor (2). Scanline filters CYCLE through all five predictors (row
    index mod 5, per pass), so a correct decoder must implement every
    filter to round-trip even a constant image; interlace=1 writes the
    seven Adam7 passes, each filtered independently."""
    img = np.asarray(img, dtype=np.uint8)
    if color_type == 2:
        if img.ndim != 3 or img.shape[2] != 3:
            raise ValueError("color_type 2 needs an (h, w, 3) array")
        bpp = 3
    elif color_type in (0, 3):
        if img.ndim != 2:
            raise ValueError(f"color_type {color_type} needs an (h, w) array")
        bpp = 1
    else:
        raise ValueError(f"unsupported PNG color type {color_type}")
    h, w = img.shape[:2]
    raw = bytearray()
    for x0, y0, dx, dy, pw, ph in _png_pass_views(w, h, interlace):
        sub = img[y0::dy, x0::dx].reshape(ph, pw * bpp)
        prev = np.zeros(pw * bpp, np.uint8)
        for r in range(ph):
            ftype = r % 5
            raw.append(ftype)
            raw += _png_filter_row(ftype, sub[r], prev, bpp).tobytes()
            prev = sub[r]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, interlace)
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if color_type == 3:
        out += _png_chunk(b"PLTE", np.repeat(np.arange(256, dtype=np.uint8), 3).tobytes())
    out += _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
    return out + _png_chunk(b"IEND", b"")


@_codec(
    "png",
    "image",
    features=_image_features,
    # the builders write `height` identical rows of the source bytes, so the
    # md5 covers EVERY row — each row travels through a different scanline
    # predictor (the encoder cycles all five), and under Adam7 through a
    # different pass split as well
    summary=lambda img: (
        _first_plane(img["pixels"]).tobytes(), img["width"], img["width"], img["height"]
    ),
)
def decode_png(payload: bytes) -> dict:
    """PNG parser: signature, chunk walk with CRC32 verification, IHDR
    validation, zlib inflate, per-pass unfiltering (all five predictors),
    PLTE application for indexed images, Adam7 de-interlacing. Supports bit
    depth 8, color types 0/2/3, both interlace methods; anything else —
    including unknown CRITICAL chunks, a canvas over _MAX_PIXELS and pixel
    data longer or shorter than IHDR declares — raises instead of
    mis-decoding. Inflation stops one byte past the declared size."""
    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, plte, idat, ended = len(_PNG_SIG), None, None, bytearray(), False
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + body) != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            ended = True
            break
        elif not (tag[0] & 0x20):  # critical bit clear = critical chunk
            raise ValueError(f"unsupported critical PNG chunk {tag!r}")
        pos += 12 + length
    if ihdr is None or not ended:
        raise ValueError("truncated PNG (missing IHDR or IEND)")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8 or ctype not in (0, 2, 3) or comp != 0 or filt != 0 or interlace not in (0, 1):
        raise ValueError(
            f"unsupported PNG shape (depth={depth}, color_type={ctype}, "
            f"compression={comp}, filter={filt}, interlace={interlace})"
        )
    if ctype == 3 and plte is None:
        raise ValueError("indexed PNG without PLTE")
    if w * h > _MAX_PIXELS:
        raise ValueError(f"PNG canvas {w}x{h} exceeds {_MAX_PIXELS} pixels")
    bpp = 3 if ctype == 2 else 1
    need = sum(ph * (1 + pw * bpp) for *_, pw, ph in _png_pass_views(w, h, interlace))
    inflate = zlib.decompressobj()
    raw = np.frombuffer(inflate.decompress(bytes(idat), need + 1), np.uint8)
    if raw.size > need:
        raise ValueError("PNG pixel data has trailing bytes")
    if raw.size < need or not inflate.eof:
        raise ValueError("PNG pixel data truncated")
    img = np.zeros((h, w * bpp), np.uint8)
    off = 0
    for x0, y0, dx, dy, pw, ph in _png_pass_views(w, h, interlace):
        stride = pw * bpp
        prev = np.zeros(stride, np.uint8)
        for r in range(ph):
            ftype = int(raw[off])
            row = _png_unfilter_row(ftype, raw[off + 1 : off + 1 + stride], prev, bpp)
            off += 1 + stride
            if bpp == 1:
                img[y0 + r * dy, x0::dx] = row
            else:
                img[y0 + r * dy].reshape(w, 3)[x0::dx] = row.reshape(pw, 3)
            prev = row
    px = img.reshape(h, w, 3) if bpp == 3 else img
    if ctype == 3:
        px = plte[px]  # indexed -> RGB through the palette
    return {
        "width": w,
        "height": h,
        "bit_depth": depth,
        "color_type": ctype,
        "interlace": interlace,
        "pixels": px,
    }


# ----------------------------------------------------------------- GIF
# Pure-stdlib GIF87a/89a (the spec's entropy coder is variable-width LZW,
# hand-rolled here like JPEG's Huffman — zlib does not apply). Covered:
# global/local color tables, the 4-pass row interlace, sub-block framing,
# graphic-control extensions (transparency, disposal 0/1/2/3), and
# multi-frame animation with per-frame canvas compositing — which makes GIF
# the repo's real VIDEO-kind container: frame sampling decodes an actual
# frame sequence instead of slicing bytes at a fixed stride.

#: interlace pass (row start, row stride), spec order
_GIF_PASSES = [(0, 8), (4, 8), (2, 4), (1, 2)]


def _gif_lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF variable-width LZW: emits CLEAR, the code stream (LSB-first bit
    packing, width grows as the table fills, table reset via CLEAR at 4096),
    then END. Returns the raw code bytes (sub-block framing is the caller's)."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    acc = n_bits = 0

    def put(code: int) -> None:
        nonlocal acc, n_bits, width
        acc |= code << n_bits
        n_bits += width
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8
        # GIF89a Appendix F (giflib EGifCompressOutput): the width grows once
        # code 2**width - 1 is assigned, checked after each code is written
        # and before this step's table add — so the decoder, one add behind,
        # widens at the same code boundary, also for the code before END
        if nxt == 1 << width and width < 12:
            width += 1

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    nxt, width = end + 1, min_code_size + 1
    put(clear)
    cur = b""
    for byte in indices:
        cand = cur + bytes([byte])
        if cand in table:
            cur = cand
            continue
        put(table[cur])
        if nxt < 4096:
            table[cand] = nxt
            nxt += 1
        else:
            # table full: reset (exercises the decoder's mid-stream CLEAR)
            put(clear)
            table = {bytes([i]): i for i in range(clear)}
            nxt, width = end + 1, min_code_size + 1
        cur = bytes([byte])
    if cur:
        put(table[cur])
    put(end)
    if n_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """Inverse of _gif_lzw_encode, including the KwKwK case (code == next
    unassigned entry) and mid-stream CLEAR resets. The width grows once the
    table holds 1<<w entries (giflib DGifDecompressInput): the decoder lags
    the encoder by one table add, and the encoder checks before its add."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    pos = acc = n_bits = 0

    def take(width: int) -> int:
        nonlocal pos, acc, n_bits
        while n_bits < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated")
            acc |= data[pos] << n_bits
            pos += 1
            n_bits += 8
        v = acc & ((1 << width) - 1)
        acc >>= width
        n_bits -= width
        return v

    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    while True:
        code = take(width)
        if code == end:
            return bytes(out)
        if code == clear:
            table = table[: end + 1]
            width = min_code_size + 1
            prev = None
            continue
        if prev is None:
            if code >= len(table):
                raise ValueError(f"first code {code} not in table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"LZW code {code} beyond table size {len(table)}")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == 1 << width and width < 12:
                width += 1
        prev = entry


def _gif_subblocks(data: bytes) -> bytes:
    """Frame `data` as GIF data sub-blocks: <=255-byte runs, 0 terminator."""
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def gif_bytes(
    gray: bytes,
    height: int = 4,
    n_frames: int = 1,
    interlace_alt: bool = False,
) -> bytes:
    """GIF89a writer: a 256-entry grayscale global color table (palette i =
    (i,i,i), so index == gray byte) and `n_frames` full-canvas frames, each
    `height` identical rows of the `gray` bytes (width = byte count). Every
    frame carries a graphic-control extension (disposal 1 = keep); with
    `interlace_alt` odd frames are written row-interlaced, so one payload
    exercises both row orders. Frames last 4 cs; animations get the Netscape
    loop extension."""
    w, h = len(gray), height
    out = bytearray(b"GIF89a")
    # logical screen: GCT present, color resolution 8, GCT size 2^(7+1)=256
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    for i in range(256):
        out += bytes((i, i, i))
    if n_frames > 1:
        out += b"\x21\xff\x0bNETSCAPE2.0" + _gif_subblocks(b"\x01\x00\x00")
    rows = bytes(gray) * h
    for k in range(n_frames):
        lace = interlace_alt and (k % 2 == 1)
        out += b"\x21\xf9" + _gif_subblocks(
            struct.pack("<BHB", 0x04, 4, 0)  # disposal 1, 4 cs delay, no transparency
        )
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if lace else 0)
        px = rows
        if lace and h > 1:
            order = [r for start, step in _GIF_PASSES for r in range(start, h, step)]
            px = b"".join(rows[r * w : (r + 1) * w] for r in order)
        out.append(8)  # LZW min code size (256-entry table)
        out += _gif_subblocks(_gif_lzw_encode(px, 8))
    out.append(0x3B)  # trailer
    return bytes(out)


def _gif_frames(gif: dict) -> list[bytes]:
    return [f.tobytes() for f in gif["frames"]]


@_codec(
    "gif",
    "video",
    features=_video_features(_gif_frames),
    # the builder writes identical full-canvas frames under disposal 1, so
    # the md5 covers EVERY frame's composited canvas — interlaced and
    # sequential frames alike travel through LZW decode + de-interlace +
    # compositing
    summary=lambda gif: (gif["frames"].tobytes(), gif["width"], gif["n_frames"], gif["height"]),
    frames=_gif_frames,
)
def decode_gif(payload: bytes) -> dict:
    """GIF parser: header + logical screen descriptor, global/local color
    tables, extension-block walk (graphic control honored: transparency
    index, disposal none/keep/background/previous; comment/app skipped),
    image descriptors at arbitrary offsets composited onto the canvas,
    per-frame LZW decode at any min code size, 4-pass de-interlacing.
    Returns every frame's post-composite canvas as grayscale (palette R
    channel) — GIF is the one container here with real animation, so
    `frames` has shape (n_frames, h, w), refused once it would exceed
    _MAX_PIXELS."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w, h, packed, bg, _aspect = struct.unpack("<HHBBB", payload[6:13])
    if w * h > _MAX_PIXELS:
        raise ValueError(f"GIF canvas {w}x{h} exceeds {_MAX_PIXELS} pixels")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload[pos : pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n

    def subblocks(p: int) -> tuple[bytes, int]:
        body = bytearray()
        while True:
            size = payload[p]
            p += 1
            if size == 0:
                return bytes(body), p
            body += payload[p : p + size]
            p += size

    bg_val = int(gct[bg, 0]) if gct is not None and bg < len(gct) else 0
    canvas = np.full((h, w), bg_val, dtype=np.uint8)
    frames: list[np.ndarray] = []
    transparent: int | None = None
    disposal = 0
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = payload[pos]
            pos += 1
            body, pos = subblocks(pos)
            if label == 0xF9 and len(body) >= 3:
                flags = body[0]
                disposal = (flags >> 2) & 0x07
                transparent = body[2] if flags & 0x01 else None
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        left, top, fw, fh, fpacked = struct.unpack("<HHHHB", payload[pos : pos + 9])
        pos += 9
        pal = gct
        if fpacked & 0x80:  # local color table overrides
            n = 2 << (fpacked & 0x07)
            pal = np.frombuffer(payload[pos : pos + 3 * n], np.uint8).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF image with no color table")
        mcs = payload[pos]
        pos += 1
        data, pos = subblocks(pos)
        idx = np.frombuffer(_gif_lzw_decode(data, mcs), np.uint8)
        if idx.size != fw * fh:
            raise ValueError(f"frame pixel count {idx.size} != {fw}x{fh}")
        idx = idx.reshape(fh, fw)
        if fpacked & 0x40:  # de-interlace
            ordered = np.empty_like(idx)
            rows = [r for start, step in _GIF_PASSES for r in range(start, fh, step)]
            ordered[rows] = idx
            idx = ordered
        saved = canvas[top : top + fh, left : left + fw].copy()
        gray = pal[np.minimum(idx, len(pal) - 1), 0]
        if transparent is not None:
            keep = idx == transparent
            gray = np.where(keep, canvas[top : top + fh, left : left + fw], gray)
        canvas[top : top + fh, left : left + fw] = gray
        if (len(frames) + 1) * w * h > _MAX_PIXELS:
            raise ValueError(f"GIF frames exceed {_MAX_PIXELS} pixels")
        frames.append(canvas.copy())
        if disposal == 2:  # restore background in the frame's rect
            canvas[top : top + fh, left : left + fw] = bg_val
        elif disposal == 3:  # restore previous canvas content
            canvas[top : top + fh, left : left + fw] = saved
        transparent, disposal = None, 0
    return {
        "width": w,
        "height": h,
        "n_frames": len(frames),
        "frames": np.stack(frames) if frames else np.zeros((0, h, w), np.uint8),
    }


# ------------------------------------------------------------------ JPEG
# Pure-numpy DCT JPEG (ITU T.81): one writer and one decoder — markers,
# standard Annex K Huffman tables, zigzag, quantization, 8x8 IDCT, byte
# stuffing, restart intervals. Baseline (SOF0) and progressive (SOF2),
# grayscale or 3-component YCbCr at any integer-ratio sampling; arithmetic
# coding and the other SOF types raise. Both directions work on the same
# model, a per-component store of zigzag coefficient blocks: the writer
# serializes it as one interleaved baseline scan or as a progressive scan
# script, the decoder fills it from one scan or many and then dequantizes
# and IDCTs it once. All constants below are from the public JPEG
# specification.

_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.3.1 standard luminance Huffman tables
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

#: AC Huffman table for progressive scans: the Annex-K sequential table has
#: no EOBn symbols (cat<<4, cat 1..14 — variable-length end-of-band runs are
#: progressive-only), so emit a custom canonical table carrying every symbol
#: a progressive AC scan can produce — all 176 at length 9 (2^9 = 512 code
#: space, all-ones code unused per K.2). Real encoders ship size-optimized
#: tables; the decoder reads whatever DHT declares, so the fixed table only
#: costs stream size, never compatibility.
_PROG_AC_VALS = (
    [cat << 4 for cat in range(15)]  # EOBn: EOB0 .. EOB14
    + [0xF0]  # ZRL
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_PROG_AC_BITS = [0] * 16
_PROG_AC_BITS[8] = len(_PROG_AC_VALS)  # every symbol at code length 9

#: every SOFn marker (C4 DHT, C8 JPG and CC DAC are not frames)
_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: symbol -> (code, length)."""
    out, code, i = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


def _dct_matrix() -> np.ndarray:
    x = np.arange(8)
    c = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
    c[0] /= np.sqrt(2.0)
    return c


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.n -= 8

    def align(self) -> None:
        if self.n:
            self.put(0x7F, 8 - self.n)  # 1-pad to byte boundary per spec

    def raw(self, data: bytes) -> None:
        """Append marker bytes verbatim (no stuffing) — caller must align()."""
        assert self.n == 0, "raw marker emission requires byte alignment"
        self.buf.extend(data)

    def flush(self) -> bytes:
        self.align()
        return bytes(self.buf)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _scan_units(cis: list[int], sampling, mcu_grid, grids) -> list[list[tuple[int, int, int]]]:
    """One scan's data units (ci, by, bx), grouped per MCU — the restart
    unit. An interleaved scan walks the (my, mx) MCU grid, each MCU holding
    every scan component's h x v blocks in raster order (A.2.3); a
    one-component scan walks that component's own (nby, nbx) block grid,
    one block per MCU (A.2.2)."""
    if len(cis) == 1:
        nby, nbx = grids[cis[0]]
        return [[(cis[0], by, bx)] for by in range(nby) for bx in range(nbx)]
    my, mx = mcu_grid
    return [
        [
            (ci, mcu_y * sampling[ci][1] + vv, mcu_x * sampling[ci][0] + hh)
            for ci in cis
            for vv in range(sampling[ci][1])
            for hh in range(sampling[ci][0])
        ]
        for mcu_y in range(my)
        for mcu_x in range(mx)
    ]


# --- entropy encoding, per T.81 Annex G for the progressive scans (a
# --- baseline block is the Ah=0 case over the 1..63 band, its EOB an EOB
# --- run of one). The AC refinement encoder mirrors the decoder's
# --- correction-bit walk: bits for already-significant coefficients
# --- buffer until the symbol (ZRL / newly-significant / EOBn) that covers
# --- them is emitted.


def _flush_corr_bits(w: "_BitWriter", st: dict) -> None:
    for b in st["bits"]:
        w.put(b, 1)
    st["bits"] = []


def _emit_eobrun(w: "_BitWriter", ac_huf, st: dict) -> None:
    if st["eobrun"] > 0:
        run = st["eobrun"]
        cat = run.bit_length() - 1
        code, ln = ac_huf[cat << 4]
        w.put(code, ln)
        if cat:
            w.put(run - (1 << cat), cat)
        st["eobrun"] = 0
        # correction bits buffered under this EOB run follow its symbol —
        # the decoder pays them while sweeping the covered bands. With no
        # pending run the buffer belongs to a LATER covering symbol (ZRL /
        # newly-significant), so it must stay buffered here.
        _flush_corr_bits(w, st)


def _enc_dc_first(w, dcval: int, prev: int, Al: int, dc_huf) -> int:
    v = int(dcval) >> Al  # DC point transform: arithmetic shift (G.1.2.1)
    diff = v - prev
    size = _category(diff)
    code, ln = dc_huf[size]
    w.put(code, ln)
    if size:
        w.put(diff if diff > 0 else diff + (1 << size) - 1, size)
    return v


def _enc_ac_first_block(w, zz, Ss: int, Se: int, Al: int, ac_huf, st: dict) -> None:
    """One block of an AC first scan (Ah=0): values at point transform Al
    (magnitude shift, sign preserved), zero runs + ZRL, trailing zeros and
    all-zero blocks folded into a shared EOBRUN."""
    vals = []
    for k in range(Ss, Se + 1):
        a = int(zz[k])
        t = (a if a >= 0 else -a) >> Al
        vals.append(t if a >= 0 else -t)
    last_nz = max((i for i, v in enumerate(vals) if v), default=-1)
    if last_nz < 0:
        st["eobrun"] += 1
        if st["eobrun"] == 0x7FFF:
            _emit_eobrun(w, ac_huf, st)
        return
    _emit_eobrun(w, ac_huf, st)
    r = 0
    for i in range(last_nz + 1):
        v = vals[i]
        if v == 0:
            r += 1
            continue
        while r > 15:
            code, ln = ac_huf[0xF0]
            w.put(code, ln)
            r -= 16
        s = _category(v)
        code, ln = ac_huf[(r << 4) | s]
        w.put(code, ln)
        w.put(v if v > 0 else v + (1 << s) - 1, s)
        r = 0
    if last_nz < len(vals) - 1:
        st["eobrun"] += 1
        if st["eobrun"] == 0x7FFF:
            _emit_eobrun(w, ac_huf, st)


def _enc_ac_refine_block(w, zz, Ss: int, Se: int, Al: int, ac_huf, st: dict) -> None:
    """One block of an AC refinement scan (Ah=Al+1): newly-significant
    coefficients (|v|>>Al == 1) emit (run|1)+sign where run counts only
    zero-history positions; every already-significant coefficient passed
    over contributes one buffered correction bit, flushed after the covering
    symbol — the exact mirror of the decoder's G.1.2.3 walk."""
    ts = []
    for k in range(Ss, Se + 1):
        a = int(zz[k])
        ts.append(((a if a >= 0 else -a) >> Al, a > 0))
    last_new = max((i for i, (t, _) in enumerate(ts) if t == 1), default=-1)
    r = 0
    # two correction-bit buffers (jcphuff's BE/BR split): st["bits"] is owned
    # by the pending EOB run and flushes with its EOBn symbol; `br` holds
    # bits buffered in THIS block since the last symbol and flushes after
    # the next ZRL / newly-significant symbol — conflating them would hand
    # the decoder's EOB-run sweep bits that belong to a later block.
    br: list[int] = []
    for i in range(last_new + 1):
        t, pos = ts[i]
        if t == 0:
            r += 1
            continue
        # ZRLs are emitted EAGERLY at the next nonzero position once 16+
        # zero-history positions accumulated — also before a mere correction
        # bit — so the bits flushed after each ZRL never outrun the
        # decoder's 16-zero-history advance (the jcphuff emission order)
        while r > 15:
            _emit_eobrun(w, ac_huf, st)
            code, ln = ac_huf[0xF0]
            w.put(code, ln)
            r -= 16
            for b in br:
                w.put(b, 1)
            br = []
        if t > 1:
            br.append(t & 1)
            continue
        _emit_eobrun(w, ac_huf, st)  # a pending EOB run ends before this symbol
        code, ln = ac_huf[(r << 4) | 1]
        w.put(code, ln)
        w.put(1 if pos else 0, 1)
        for b in br:
            w.put(b, 1)
        br = []
        r = 0
    if last_new < len(ts) - 1:
        # block folds into the EOB run: its unflushed bits become run-owned
        st["bits"].extend(br)
        st["bits"].extend(t & 1 for t, _ in ts[last_new + 1 :] if t > 1)
        st["eobrun"] += 1
        if st["eobrun"] == 0x7FFF or len(st["bits"]) > 900:
            _emit_eobrun(w, ac_huf, st)


def _jpeg_stream(
    comp_blocks: list[np.ndarray],
    width: int,
    height: int,
    sampling: list[tuple[int, int]],
    scans: list[tuple] | None = None,
    restart_interval: int | None = None,
) -> bytes:
    """The one JPEG writer: per-component quantized zigzag coefficient arrays
    (nby, nbx, 64) under unit quantizers -> a complete stream. With no
    `scans` it writes SOF0 and one interleaved baseline scan with the
    Annex-K tables. With a scan script it writes SOF2 and the scans:
    ("dc", [ci, ...], Ah, Al) — interleaved when multiple components — or
    ("ac", ci, Ss, Se, Ah, Al). Block grids must be exact multiples of the
    MCU grid (the builders' one-MCU-row layouts are). Restart markers, when
    configured, are emitted every `restart_interval` MCUs/blocks in every
    scan, resetting DC predictors and ending any open EOB run."""
    baseline = scans is None
    ac_bits, ac_vals = (_AC_BITS, _AC_VALS) if baseline else (_PROG_AC_BITS, _PROG_AC_VALS)
    dc_huf, ac_huf = _huff_codes(_DC_BITS, _DC_VALS), _huff_codes(ac_bits, ac_vals)
    ncomp = len(comp_blocks)
    out = b"\xff\xd8"  # SOI
    out += _jpeg_seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    out += _jpeg_seg(0xDB, b"\x00" + b"\x01" * 64)  # DQT id 0, 8-bit, unit quantizers
    frame = struct.pack(">BHHB", 8, height, width, ncomp)
    for ci, (h, v) in enumerate(sampling):
        frame += bytes([ci + 1, (h << 4) | v, 0x00])  # ids 1..ncomp, all on DQT 0
    out += _jpeg_seg(0xC0 if baseline else 0xC2, frame)
    out += _jpeg_seg(0xC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))  # DHT DC 0
    out += _jpeg_seg(0xC4, b"\x10" + bytes(ac_bits) + bytes(ac_vals))  # DHT AC 0
    if restart_interval:
        out += _jpeg_seg(0xDD, struct.pack(">H", int(restart_interval)))  # DRI
    hmax = max(h for h, _ in sampling)
    vmax = max(v for _, v in sampling)
    mcu_grid = ((height + 8 * vmax - 1) // (8 * vmax), (width + 8 * hmax - 1) // (8 * hmax))
    grids = [b.shape[:2] for b in comp_blocks]
    # every scan as (components, Ss, Se, Ah, Al); baseline is one full-band scan
    bands = [(list(range(ncomp)), 0, 63, 0, 0)] if baseline else [
        (s[1], 0, 0, s[2], s[3]) if s[0] == "dc" else ([s[1]], *s[2:]) for s in scans
    ]
    for cis, ss, se, ah, al in bands:
        w = _BitWriter()
        st = {"eobrun": 0, "bits": []}
        prev = [0] * ncomp
        for mcu, units in enumerate(_scan_units(cis, sampling, mcu_grid, grids)):
            if restart_interval and mcu and mcu % restart_interval == 0:
                _emit_eobrun(w, ac_huf, st)
                w.align()
                w.raw(bytes([0xFF, 0xD0 + ((mcu // restart_interval - 1) % 8)]))
                prev = [0] * ncomp
            for ci, by, bx in units:
                zz = comp_blocks[ci][by, bx]
                if ss == 0 and ah == 0:
                    prev[ci] = _enc_dc_first(w, zz[0], prev[ci], al, dc_huf)
                elif ss == 0:
                    w.put((int(zz[0]) >> al) & 1, 1)
                if se:
                    enc = _enc_ac_first_block if ah == 0 else _enc_ac_refine_block
                    enc(w, zz, max(ss, 1), se, al, ac_huf, st)
                    if baseline:
                        _emit_eobrun(w, ac_huf, st)  # sequential: every block ends itself
        _emit_eobrun(w, ac_huf, st)
        sos = bytes([len(cis)]) + b"".join(bytes([ci + 1, 0x00]) for ci in cis)
        out += _jpeg_seg(0xDA, sos + bytes([ss, se, (ah << 4) | al])) + w.flush()
    return out + b"\xff\xd9"


def _byte_row(gray: bytes) -> np.ndarray:
    """The input bytes as a (1, n) int64 row, one MCU per byte; empty input
    is one zero byte, since a legal frame needs a block."""
    data = np.frombuffer(bytes(gray), dtype=np.uint8)
    return (data if data.size else np.zeros(1, np.uint8)).astype(np.int64)[None, :]


def _dc_blocks(plane: np.ndarray) -> np.ndarray:
    """A (nby, nbx) plane of byte values as constant 8x8 blocks in zigzag
    order: a constant block is DC-only, and its DCT DC term is exactly
    8*(v-128) (DCT gain 8), so unit quantizers keep it lossless."""
    blocks = np.zeros(plane.shape + (64,), dtype=np.int64)
    blocks[..., 0] = 8 * (plane - 128)
    return blocks


#: chroma derivations for the exactly-invertible color stream: per input byte
#: v, the MCU carries constant blocks Y=v, Cb=v^0xFF, Cr=(v+85)%256 — three
#: DIVERGING DC predictor chains, so interleaved decode order and per-
#: component predictor reset at restarts are both load-bearing. Works on
#: scalars and on numpy arrays alike.
def _color_planes_of(v):
    return v, v ^ 0xFF, (v + 85) % 256


def jpeg_bytes(gray: bytes, restart_interval: int | None = None) -> bytes:
    """Baseline JPEG encoder for a one-block-row grayscale image: each input
    byte becomes one constant 8x8 block (width = 8*len, height = 8). The
    entropy pipeline (zigzag -> Annex-K Huffman) is the general one; the
    constant-block layout plus an all-ones quant table is what makes the
    codec EXACTLY invertible (a constant block is DC-only and the DC
    quantizer divides the DCT gain), giving the decode path an
    md5-round-trip oracle like the WAV/PPM containers.

    restart_interval=n emits a DRI segment and an RSTn marker every n MCUs
    (byte-aligned scan, D0..D7 cycling, DC predictor reset) — the stream
    shape hardware encoders emit for error resilience."""
    row = _byte_row(gray)
    return _jpeg_stream([_dc_blocks(row)], 8 * row.size, 8, [(1, 1)], None, restart_interval)


def jpeg_color_bytes(gray: bytes, restart_interval: int | None = None) -> bytes:
    """Three-component (YCbCr 4:4:4) baseline JPEG: each input byte v becomes
    one interleaved MCU of constant blocks Y=v, Cb=v^0xFF, Cr=(v+85)%256 —
    three diverging DC predictor chains through one entropy-coded scan, so
    decoding exercises real interleaved-MCU order and (with restart_interval)
    per-component predictor resets at RSTn. Same exact-invertibility layout
    as jpeg_bytes, so the Y plane round-trips the input bit-for-bit."""
    row = _byte_row(gray)
    blocks = [_dc_blocks(p) for p in _color_planes_of(row)]
    return _jpeg_stream(blocks, 8 * row.size, 8, [(1, 1)] * 3, None, restart_interval)


#: per-byte Y quad for the 4:2:0 stream: the four luma blocks of one MCU in
#: spec raster order (0,0),(0,1),(1,0),(1,1). DISTINCT values so a decoder
#: that walks the intra-MCU block order wrong produces wrong pixels at known
#: positions instead of an accidentally-identical plane.
def _y_quad_of(v):
    return v, v ^ 0x55, v ^ 0xAA, v ^ 0xFF


def jpeg420_bytes(gray: bytes, restart_interval: int | None = None) -> bytes:
    """Chroma-subsampled (YCbCr 4:2:0) baseline JPEG — the sampling layout
    virtually every camera and web encoder emits: each input byte v becomes
    one 16x16 MCU of SIX blocks — four distinct constant luma blocks
    (v, v^0x55, v^0xAA, v^0xFF in raster order) followed by one Cb (v^0xFF)
    and one Cr ((v+85)%256) block at quarter resolution. Decoding exercises
    the general MCU geometry (per-component sampling factors, data-unit
    order Y00 Y01 Y10 Y11 Cb Cr), three diverging DC predictor chains, and
    (with restart_interval, counted in MCUs) predictor resets at RSTn. Same
    constant-block + unit-quantizer exact-invertibility as jpeg_bytes: the
    top-left pixel of each MCU round-trips the input bit-for-bit."""
    row = _byte_row(gray)
    # (n, 2, 2) quads -> the (2, 2n) luma block grid, MCU i at columns 2i, 2i+1
    quads = np.stack(_y_quad_of(row[0]), axis=-1).reshape(-1, 2, 2)
    luma = quads.transpose(1, 0, 2).reshape(2, -1)
    _, cb, cr = _color_planes_of(row)
    blocks = [_dc_blocks(luma), _dc_blocks(cb), _dc_blocks(cr)]
    return _jpeg_stream(
        blocks, 16 * row.size, 16, [(2, 2), (1, 1), (1, 1)], None, restart_interval
    )


def jpeg_progressive_bytes(
    gray: bytes, restart_interval: int | None = None, ncomp: int = 1
) -> bytes:
    """Progressive (SOF2) JPEG with the same exact-invertibility contract as
    jpeg_bytes / jpeg_color_bytes: each input byte is one constant 8x8 block
    (ncomp=1) or one 4:4:4 YCbCr MCU (ncomp=3, chroma = the fixed
    derivations of Y), unit quantizers. Scan script: DC first at Al=1
    (interleaved when color), a DC refinement bit plane, then per component
    an AC first scan (1..63, Al=1) and its refinement — all-zero AC bands,
    so the AC scans are pure shared-EOBRUN streams, the progressive
    structure real decoders must walk. The decoded Y plane round-trips the
    input bit-for-bit."""
    row = _byte_row(gray)
    scans: list[tuple] = [("dc", list(range(ncomp)), 0, 1), ("dc", list(range(ncomp)), 1, 0)]
    for ci in range(ncomp):
        scans += [("ac", ci, 1, 63, 0, 1), ("ac", ci, 1, 63, 1, 0)]
    blocks = [_dc_blocks(p) for p in _color_planes_of(row)[:ncomp]]
    return _jpeg_stream(blocks, 8 * row.size, 8, [(1, 1)] * ncomp, scans, restart_interval)


#: pad bits a scan may consume past its data (libjpeg warns and pads too)
_PAD_BITS = 32


class _BitReader:
    """Entropy-coded segment reader: byte unstuffing, and 0 bits fed at a
    marker or the segment's end. Those pad bits are spec-legal for the last
    few bits of a scan; a scan that reads more than _PAD_BITS of them
    declared more data units than its bytes hold, and is refused."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0
        self.pad = 0  # pad bits fed since the last restart

    def _fill(self) -> None:
        while self.n <= 24:
            b = self.data[self.pos] if self.pos < len(self.data) else 0xFF
            if b != 0xFF:
                self.pos += 1
            elif self.data[self.pos + 1 : self.pos + 2] == b"\x00":
                self.pos += 2  # stuffed byte
            else:
                # a marker or the end: feed a 0 pad byte, pos stays put.
                # _fill runs at most 32 bits ahead of the reads, so a scan
                # has read past _PAD_BITS once 32 more than that were fed
                b = 0
                self.pad += 8
                if self.pad > _PAD_BITS + 32:
                    raise ValueError("scan reads past its entropy-coded data")
            self.acc = (self.acc << 8) | b
            self.n += 8

    def take(self, length: int) -> int:
        if length == 0:
            return 0
        self._fill()
        v = (self.acc >> (self.n - length)) & ((1 << length) - 1)
        self.n -= length
        return v

    def restart(self) -> int:
        """Consume an RSTn marker at the current byte boundary: drop the
        scan's 1-padding bits (any unread bits are pad or the synthetic
        zeros _fill feeds at a marker — _fill never advances past an FF, so
        pos sits exactly on the marker), read FF Dn, return n. Caller resets
        the DC predictors per the spec."""
        self.acc = self.n = self.pad = 0
        if self.pos + 1 >= len(self.data) or self.data[self.pos] != 0xFF:
            raise ValueError("expected restart marker in scan")
        m = self.data[self.pos + 1]
        if not (0xD0 <= m <= 0xD7):
            raise ValueError(f"expected RSTn marker, got ff{m:02x}")
        self.pos += 2
        return m - 0xD0


class _Tables(dict):
    """DQT or DHT tables by id: a frame or scan that names one no segment
    defined refuses at the lookup."""

    def __missing__(self, key):
        raise ValueError(f"frame or scan names undefined table {key}")


def _huff_decode_tables(bits: list[int], vals: list[int]):
    """Per-length (first_code, first_index) canonical decode table."""
    table, code, i = [], 0, 0
    for length in range(1, 17):
        table.append((code, i, bits[length - 1]))
        code = (code + bits[length - 1]) << 1
        i += bits[length - 1]
    return table, vals


def _read_symbol(r: _BitReader, table, vals) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.take(1)
        first, idx, count = table[length - 1]
        if count and first <= code < first + count:
            return vals[idx + (code - first)]
    raise ValueError("invalid Huffman code in scan")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _restart(r: _BitReader, n: int, restart_interval: int) -> bool:
    """Before unit n of a scan: at a restart boundary consume the RSTn
    marker, check its D0..D7 sequence, and report the restart so the caller
    resets its DC predictors / EOB run."""
    if not (restart_interval and n and n % restart_interval == 0):
        return False
    if r.restart() != (n // restart_interval - 1) % 8:
        raise ValueError("restart marker out of sequence")
    return True


def _decode_seq_ac(r: _BitReader, ac_tab, zz: np.ndarray) -> None:
    """A baseline block's AC band 1..63 into `zz`: runs, ZRL and EOB (EOB
    runs are progressive-only and refused here)."""
    k = 1
    while k < 64:
        sym = _read_symbol(r, *ac_tab)
        if sym == 0x00:  # EOB
            break
        run, s = sym >> 4, sym & 0xF
        if s == 0:
            if run != 15:
                raise ValueError("invalid AC symbol")
            k += 16  # ZRL
            continue
        k += run
        if k > 63:
            raise ValueError("AC run past end of block")
        zz[k] = _extend(r.take(s), s)
        k += 1


def _scan_end(payload: bytes, start: int) -> int:
    """Index of the first marker that terminates an entropy-coded segment
    (not a stuffed FF00, not RST0-7) — lets the marker walk resume after
    each scan's data."""
    i, n = start, len(payload)
    while i < n:
        i = payload.find(b"\xff", i)
        if i < 0 or i + 1 >= n:
            return n
        m = payload[i + 1]
        if m == 0x00 or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        return i
    return n


def _prog_correct(coef: np.ndarray, k: int, r: "_BitReader", p1: int) -> None:
    """One AC-refinement correction bit for an already-nonzero coefficient:
    magnitude grows by 1<<Al toward its sign (G.1.2.3); the &p1 guard
    ignores a re-correction in a corrupt stream instead of overshooting."""
    if r.take(1) and not (int(coef[k]) & p1):
        coef[k] += p1 if coef[k] >= 0 else -p1


def _scan_dc(r, units, huff, sel, coefs, Ah, Al, restart_interval, baseline):
    """DC scan over `units` = MCUs of (ci, by, bx). First pass (Ah=0):
    DPCM decode, coefficient = predictor << Al; a baseline scan then reads
    each block's 1..63 band too. Refinement (Ah>0): one bit per data unit,
    OR'd in at bit Al (two's-complement bit-planes, so negative DC values
    reconstruct exactly)."""
    prev = [0] * len(coefs)
    for mcu, mcu_units in enumerate(units):
        if _restart(r, mcu, restart_interval):
            prev = [0] * len(coefs)
        for ci, by, bx in mcu_units:
            if Ah == 0:
                size = _read_symbol(r, *huff[(0, sel[ci][0])])
                prev[ci] += _extend(r.take(size), size) if size else 0
                coefs[ci][by, bx, 0] = prev[ci] << Al
                if baseline:
                    _decode_seq_ac(r, huff[(1, sel[ci][1])], coefs[ci][by, bx])
            elif r.take(1):
                coefs[ci][by, bx, 0] |= 1 << Al


def _scan_ac(r, units, ac_tab, coefs, Ss, Se, Ah, Al, restart_interval):
    """AC scan (single component, non-interleaved) over `units`, one block
    each, in raster order. First pass (Ah=0): runs/EOBRUN/ZRL with values at
    point transform Al. Refinement (Ah>0): the G.1.2.3 correction-bit walk —
    newly-significant coefficients arrive as ±1<<Al, every already-nonzero
    coefficient passed over (including the whole band of EOB-run blocks)
    pays one correction bit. EOBRUN and, at restarts, the bit reader are the
    only inter-block state."""
    p1 = 1 << Al
    eobrun = 0
    for bi, ((ci, by, bx),) in enumerate(units):
        if _restart(r, bi, restart_interval):
            eobrun = 0
        coef = coefs[ci][by, bx]
        k = Ss
        if Ah == 0:
            if eobrun:
                eobrun -= 1
                continue
            while k <= Se:
                sym = _read_symbol(r, *ac_tab)
                run, s = sym >> 4, sym & 0xF
                if s == 0:
                    if run == 15:
                        k += 16  # ZRL
                        continue
                    eobrun = (1 << run) - 1 + (r.take(run) if run else 0)
                    break
                k += run
                if k > Se:
                    raise ValueError("AC run past end of band")
                coef[k] = _extend(r.take(s), s) << Al
                k += 1
        else:
            if eobrun == 0:
                while k <= Se:
                    sym = _read_symbol(r, *ac_tab)
                    run, s = sym >> 4, sym & 0xF
                    newval = 0
                    if s:
                        if s != 1:
                            raise ValueError("refinement scan with |coef| > 1")
                        newval = p1 if r.take(1) else -p1
                    elif run != 15:
                        eobrun = (1 << run) + (r.take(run) if run else 0)
                        break
                    # advance over `run` zero-history positions, paying a
                    # correction bit at every already-nonzero one passed
                    while k <= Se:
                        if coef[k]:
                            _prog_correct(coef, k, r, p1)
                        else:
                            if run == 0:
                                break
                            run -= 1
                        k += 1
                    if s:
                        if k > Se:
                            raise ValueError("AC run past end of band")
                        coef[k] = newval
                    k += 1
            if eobrun > 0:
                while k <= Se:
                    if coef[k]:
                        _prog_correct(coef, k, r, p1)
                    k += 1
                eobrun -= 1


def _planes_from_coefs(coefs, comps, qtables):
    """The one IDCT: dequantize + inverse zigzag + IDCT a whole component of
    zigzag-order coefficient blocks (by, bx, 64) -> uint8 plane (by*8,
    bx*8), vectorized across blocks."""
    C = _dct_matrix()
    inv = np.argsort(_ZIGZAG)
    out = []
    for (cid, tq, h, v), cf in zip(comps, coefs):
        deq = (cf * qtables[tq][None, None, :])[:, :, inv].astype(np.float64)
        pix = C.T @ deq.reshape(*deq.shape[:2], 8, 8) @ C + 128.0
        plane = np.clip(np.round(pix), 0, 255).astype(np.uint8)
        out.append(plane.transpose(0, 2, 1, 3).reshape(plane.shape[0] * 8, plane.shape[1] * 8))
    return out


def _jpeg_summary(img: dict):
    # one byte per MCU (the builders' layout): top-left pixel of each MCU
    # across the first MCU row — stride = the parsed MCU width (8 for 4:4:4,
    # 16 for 4:2:0); for a color stream the Y plane carries the source bytes
    # (the chroma planes and sibling luma blocks are its fixed derivations —
    # pinned by pytest, not by this digest)
    step = img["mcu_w"]
    content = _first_plane(img["pixels"])[:1, ::step].tobytes()
    return content, img["width"] // step, img["width"], img["height"]


@_codec("jpeg", "image", features=_image_features, summary=_jpeg_summary)
def decode_jpeg(payload: bytes) -> dict:
    """DCT JPEG decoder, baseline (SOF0) and progressive (SOF2), through one
    marker walk (DQT/DHT/SOFn/DRI/SOS) that fills one per-component store
    of zigzag coefficient blocks. A baseline frame is one interleaved scan
    of whole blocks; a progressive frame is a scan script where each SOS
    carries a spectral band [Ss, Se] and successive-approximation bit
    positions (Ah, Al) — DC scans (interleaved or not) first send the DPCM
    value at bit Al then one refinement bit per scan; AC scans (one
    component each) send runs/EOBRUN at bit Al then correction-bit
    refinements. Scans decode canonical Huffman with byte unstuffing and
    restart intervals (RSTn sequence check, bit realign, DC predictor /
    EOB-run reset). The store is then dequantized + IDCT'd once and level
    shifted. One (grayscale) or three (YCbCr) components at any
    integer-ratio sampling — 4:4:4, 4:2:2, 4:2:0 (data units in spec raster
    order, subsampled planes box-upsampled to frame resolution).
    Scan-header legality (B.2.3) is enforced for SOF2: a DC band must be
    exactly [0,0], AC bands must not cross 0 or interleave components.
    Arithmetic coding, the other SOF types, a frame over _MAX_PIXELS and a
    scan that runs out of entropy-coded data raise.
    Grayscale returns pixels (h, w); color returns pixels (h, w, 3) in frame
    component order with ncomp=3, plus the parsed sampling factors, the MCU
    pixel width and, for SOF2, progressive=True."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos, restart_interval, progressive, scanned = 2, 0, False, False
    qtables: dict[int, np.ndarray] = _Tables()
    huff: dict[tuple[int, int], tuple] = _Tables()
    comps: list[tuple[int, int, int, int]] = []  # frame order: (id, quant id, h, v)
    coefs: list[np.ndarray] = []  # per component, on the interleaved MCU grid
    grids: list[tuple[int, int]] = []  # per component, its own block grid (A.2.2)
    sel: dict[int, tuple[int, int]] = {}  # component -> (dc table, ac table)
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        size = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
        body = payload[pos + 4 : pos + 2 + size]
        pos += 2 + size
        if marker == 0xDB:
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qtables[tq] = np.frombuffer(body[b + 1 : b + 65], dtype=np.uint8).astype(np.int64)
                b += 65
        elif marker == 0xC4:
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0xF
                bits = list(body[b + 1 : b + 17])
                nv = sum(bits)
                vals = list(body[b + 17 : b + 17 + nv])
                huff[(tc, th)] = _huff_decode_tables(bits, vals)
                b += 17 + nv
        elif marker in _SOF_MARKERS:
            if comps:
                raise ValueError("mixed frame markers: one SOF0 or SOF2 per stream")
            if marker not in (0xC0, 0xC2):
                raise ValueError("only baseline (SOF0) and progressive (SOF2) DCT supported")
            progressive = marker == 0xC2
            if len(body) < 6 or len(body) < 6 + 3 * body[5]:
                raise ValueError("truncated SOF segment")
            _prec, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if height * width > _MAX_PIXELS:
                raise ValueError(f"JPEG frame {width}x{height} exceeds {_MAX_PIXELS} pixels")
            if ncomp not in (1, 3):
                raise ValueError("only 1- (gray) or 3-component (YCbCr) frames supported")
            for ci in range(ncomp):
                cid, samp, tq = body[6 + 3 * ci : 9 + 3 * ci]
                h, v = samp >> 4, samp & 0xF
                if not (1 <= h <= 4 and 1 <= v <= 4):
                    raise ValueError(f"illegal sampling factors {h}x{v}")
                comps.append((cid, tq, h, v))
            if sum(h * v for _, _, h, v in comps) > 10:
                raise ValueError("blocks per MCU > 10 (spec B.2.3)")
            if ncomp == 1:
                # single-component scans are non-interleaved: the MCU is one
                # data unit regardless of the SOF sampling factors (A.2.2)
                comps = [comps[0][:2] + (1, 1)]
            sampling = [(h, v) for _, _, h, v in comps]
            hmax = max(h for h, _ in sampling)
            vmax = max(v for _, v in sampling)
            for h, v in sampling:
                if hmax % h or vmax % v:
                    # spec-legal but unused in practice; upsampling by replication
                    # needs integer ratios — refuse loudly rather than mis-decode
                    raise ValueError(f"non-integer sampling ratio {h}x{v} vs {hmax}x{vmax}")
            # MCU grid: each MCU covers 8*hmax x 8*vmax pixels
            my, mx = (height + 8 * vmax - 1) // (8 * vmax), (width + 8 * hmax - 1) // (8 * hmax)
            mcu_grid = (my, mx)
            for h, v in sampling:
                coefs.append(np.zeros((my * v, mx * h, 64), dtype=np.int64))
                cw, ch = (width * h + hmax - 1) // hmax, (height * v + vmax - 1) // vmax
                grids.append(((ch + 7) // 8, (cw + 7) // 8))
        elif marker == 0xDD:
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:
            if not comps:
                raise ValueError("SOS before SOF0/SOF2")
            ns = body[0]
            if not progressive and ns != len(comps):
                raise ValueError("scan components != frame components")
            cis = []
            for si in range(ns):
                scid, tabs = body[1 + 2 * si], body[2 + 2 * si]
                ci = next((i for i, c in enumerate(comps) if c[0] == scid), None)
                if ci is None:
                    raise ValueError("scan component not in frame")
                sel[ci] = (tabs >> 4, tabs & 0xF)
                cis.append(ci)
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            end = _scan_end(payload, pos)
            r = _BitReader(payload[pos:end])
            units = _scan_units(cis, sampling, mcu_grid, grids)
            pos, scanned = end, True
            if not progressive:  # Ss/Se/Ah/Al are fixed for SOF0; ignore them
                _scan_dc(r, units, huff, sel, coefs, 0, 0, restart_interval, True)
                break  # a baseline frame is its one scan
            if ss == 0:
                if se != 0:
                    raise ValueError("DC scan band must be [0,0] (B.2.3)")
                _scan_dc(r, units, huff, sel, coefs, ah, al, restart_interval, False)
            else:
                if len(cis) != 1:
                    raise ValueError("AC scans must be non-interleaved (B.2.3)")
                if se > 63 or ss > se:
                    raise ValueError("illegal spectral band")
                ac_tab = huff[(1, sel[cis[0]][1])]
                _scan_ac(r, units, ac_tab, coefs, ss, se, ah, al, restart_interval)
    if not comps or not (scanned or progressive):
        raise ValueError("missing SOF0/SOF2 or SOS")
    planes = _planes_from_coefs(coefs, comps, qtables)
    # bring subsampled components to frame resolution by pixel replication
    # (the box upsample every fast decoder defaults to), then crop the
    # right/bottom MCU padding
    full = [
        np.repeat(np.repeat(p, vmax // v, axis=0), hmax // h, axis=1)[:height, :width]
        for p, (h, v) in zip(planes, sampling)
    ]
    out = {
        "width": int(width),
        "height": int(height),
        "pixels": full[0] if len(comps) == 1 else np.stack(full, axis=-1),
        "ncomp": len(comps),
        "sampling": sampling,
        "mcu_w": 8 * hmax,
    }
    if progressive:
        out["progressive"] = True
    return out


# -------------------------------------------------------------- ISO BMFF
# MP4 container parsing with zero external libraries: generic box walk
# (32/64-bit sizes), sample tables (stts/stsc/stsz/stco|co64), absolute
# per-sample byte extraction. The video CODEC stays at the register_decoder
# seam (no ffmpeg in this container) — but the container plumbing, which is
# the part a Spark training-data pipeline actually owns (which bytes are
# frame k, how long is the clip, what codec tag to dispatch on), is real
# and oracle-gated. Reference analog: binary payloads flow opaque end to
# end (PipeCodec, msg_data).


def _mp4_box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + tag + body


def _mp4_full(tag: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _mp4_box(tag, bytes([version]) + flags.to_bytes(3, "big") + body)


_MP4_FTYP = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isom" + b"mp42")
_MP4_MATRIX = struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)


def _mp4_stsc_runs(chunk_sample_counts: list[int]) -> list[tuple[int, int]]:
    """Run-length compress per-chunk sample counts into stsc entries
    (first_chunk, samples_per_chunk) — the format's own compression; a
    trailing short chunk yields a second run."""
    runs: list[tuple[int, int]] = []
    for i, c in enumerate(chunk_sample_counts, start=1):
        if not runs or runs[-1][1] != c:
            runs.append((i, c))
    return runs


def mp4_bytes(
    frames: list[bytes],
    samples_per_chunk: int = 2,
    co64: bool = False,
    largesize_mdat: bool = False,
    version1: bool = False,
) -> bytes:
    """Minimal valid ISO BMFF (MP4) writer: ftyp + mdat (frame payloads) +
    moov carrying a full video sample table: codec tag "gry8", one gray row
    per frame (width = the first frame's size), 40 ms per sample at a 1 kHz
    timescale. Frames are grouped `samples_per_chunk` per chunk so a decoder's stsc/stco chunk walk is
    genuinely exercised (a trailing short chunk produces a second stsc run).
    `co64` writes 64-bit chunk offsets, `largesize_mdat` a size==1/u64 mdat
    header, `version1` v1 mvhd/mdhd/tkhd (64-bit times) — the corner shapes
    a real corpus contains."""
    n = len(frames)
    width, height = (len(frames[0]) if frames else 0), 1
    timescale, sample_delta = 1000, 40
    duration = n * sample_delta

    mdat_hdr = (
        struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + sum(map(len, frames)))
        if largesize_mdat
        else struct.pack(">I", 8 + sum(map(len, frames))) + b"mdat"
    )
    data_base = len(_MP4_FTYP) + len(mdat_hdr)

    # chunking: offsets are absolute file positions of each chunk's first byte
    counts: list[int] = []
    left = n
    while left > 0:
        counts.append(min(samples_per_chunk, left))
        left -= counts[-1]
    offsets: list[int] = []
    pos, k = data_base, 0
    for c in counts:
        offsets.append(pos)
        pos += sum(len(frames[k + j]) for j in range(c))
        k += c

    if version1:
        mvhd = _mp4_full(
            b"mvhd", 1, 0,
            struct.pack(">QQIQ", 0, 0, timescale, duration)
            + struct.pack(">IHH", 0x00010000, 0x0100, 0) + b"\x00" * 8
            + _MP4_MATRIX + b"\x00" * 24 + struct.pack(">I", 2),
        )
        tk_time = struct.pack(">QQI", 0, 0, 1) + b"\x00" * 4 + struct.pack(">Q", duration)
        md_time = struct.pack(">QQIQ", 0, 0, timescale, duration)
        tk_ver = md_ver = 1
    else:
        mvhd = _mp4_full(
            b"mvhd", 0, 0,
            struct.pack(">IIII", 0, 0, timescale, duration)
            + struct.pack(">IHH", 0x00010000, 0x0100, 0) + b"\x00" * 8
            + _MP4_MATRIX + b"\x00" * 24 + struct.pack(">I", 2),
        )
        tk_time = struct.pack(">III", 0, 0, 1) + b"\x00" * 4 + struct.pack(">I", duration)
        md_time = struct.pack(">IIII", 0, 0, timescale, duration)
        tk_ver = md_ver = 0
    tkhd = _mp4_full(
        b"tkhd", tk_ver, 7,
        tk_time + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0)
        + _MP4_MATRIX + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _mp4_full(b"mdhd", md_ver, 0, md_time + struct.pack(">HH", 0x55C4, 0))
    hdlr = _mp4_full(b"hdlr", 0, 0, b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"aq\x00")

    sample_entry = _mp4_box(
        b"gry8",
        b"\x00" * 6 + struct.pack(">H", 1)  # reserved, data_reference_index
        + b"\x00" * 16                       # pre_defined / reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4 + struct.pack(">H", 1)  # reserved, frame_count
        + b"\x00" * 32                        # compressorname
        + struct.pack(">Hh", 24, -1),         # depth, pre_defined
    )
    stsd = _mp4_full(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = _mp4_full(b"stts", 0, 0, struct.pack(">III", 1, n, sample_delta) if n else struct.pack(">I", 0))
    runs = _mp4_stsc_runs(counts)
    stsc = _mp4_full(
        b"stsc", 0, 0,
        struct.pack(">I", len(runs))
        + b"".join(struct.pack(">III", fc, c, 1) for fc, c in runs),
    )
    sizes = [len(f) for f in frames]
    if n and len(set(sizes)) == 1 and sizes[0] > 0:
        # constant-size shortcut the spec provides: sample_size != 0, no
        # table (sample_size == 0 is reserved to mean "per-sample table")
        stsz = _mp4_full(b"stsz", 0, 0, struct.pack(">II", sizes[0], n))
    else:
        stsz = _mp4_full(
            b"stsz", 0, 0,
            struct.pack(">II", 0, n) + b"".join(struct.pack(">I", s) for s in sizes),
        )
    if co64:
        stco = _mp4_full(
            b"co64", 0, 0,
            struct.pack(">I", len(offsets))
            + b"".join(struct.pack(">Q", o) for o in offsets),
        )
    else:
        stco = _mp4_full(
            b"stco", 0, 0,
            struct.pack(">I", len(offsets))
            + b"".join(struct.pack(">I", o) for o in offsets),
        )
    stbl = _mp4_box(b"stbl", stsd + stts + stsc + stsz + stco)
    dinf = _mp4_box(b"dinf", _mp4_full(b"dref", 0, 0, struct.pack(">I", 1) + _mp4_full(b"url ", 0, 1, b"")))
    vmhd = _mp4_full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    minf = _mp4_box(b"minf", vmhd + dinf + stbl)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    return _MP4_FTYP + mdat_hdr + b"".join(frames) + moov


def _mp4_boxes(buf: bytes, start: int, end: int):
    """Yield (tag, body_start, box_end) for each box in [start, end) —
    handles size==1 (64-bit largesize) and size==0 (extends to end)."""
    off = start
    while off < end:
        if end - off < 8:
            raise ValueError("truncated MP4 box header")
        size = struct.unpack_from(">I", buf, off)[0]
        tag = buf[off + 4 : off + 8]
        body = off + 8
        if size == 1:
            if end - off < 16:
                raise ValueError("truncated MP4 largesize header")
            size = struct.unpack_from(">Q", buf, off + 8)[0]
            body = off + 16
        elif size == 0:
            size = end - off
        if size < body - off or off + size > end:
            raise ValueError(f"MP4 box {tag!r} overruns its container")
        yield tag, body, off + size
        off += size


def _mp4_child(buf: bytes, start: int, end: int, tag: bytes):
    for t, b, e in _mp4_boxes(buf, start, end):
        if t == tag:
            return b, e
    return None


@_codec(
    "mp4",
    "video",
    features=_video_features(itemgetter("samples")),
    # the builder writes identical frame payloads chunked 2-per-chunk, so the
    # md5 covers every sample sliced via the real stsc/stco chunk walk from
    # absolute offsets
    summary=lambda mp4: (
        b"".join(mp4["samples"]), mp4["width"], mp4["n_samples"], mp4["duration_ms"]
    ),
    frames=itemgetter("samples"),
)
def decode_mp4(payload: bytes) -> dict:
    """Parse an ISO BMFF (MP4) container in pure stdlib: box walk, first
    video track's sample tables, and absolute per-sample byte extraction via
    the stsc/stco chunk-mapping algorithm (ISO 14496-12 §8.7.4). Returns the
    container facts a pipeline dispatches on plus every sample's exact bytes;
    decoding those bytes is the registered codec's job. Fragmented files
    (moof) are refused loudly rather than half-read."""
    if len(payload) < 16 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF stream (no ftyp)")
    moov = None
    for tag, b, e in _mp4_boxes(payload, 0, len(payload)):
        if tag == b"moof":
            raise ValueError("fragmented MP4 (moof) not supported; flatten first")
        if tag == b"moov":
            moov = (b, e)
    if moov is None:
        raise ValueError("no moov box (streaming-unfinalized MP4?)")

    # first track whose handler is video; else the first track at all
    chosen = None
    for tag, b, e in _mp4_boxes(payload, *moov):
        if tag != b"trak":
            continue
        mdia = _mp4_child(payload, b, e, b"mdia")
        if mdia is None:
            continue
        hdlr = _mp4_child(payload, *mdia, b"hdlr")
        handler = payload[hdlr[0] + 8 : hdlr[0] + 12].decode("latin1") if hdlr else ""
        if chosen is None or handler == "vide":
            chosen = ((b, e), mdia, handler)
        if handler == "vide":
            break
    if chosen is None:
        raise ValueError("moov contains no usable trak")
    (tb, te), (mb, me), handler = chosen

    tkhd = _mp4_child(payload, tb, te, b"tkhd")
    width = height = 0
    if tkhd:
        v = payload[tkhd[0]]
        # version/flags(4) + times+ids (v0 20 / v1 32) + reserved(8) +
        # layer/group/volume/reserved(8) + matrix(36) -> width/height 16.16
        fixed = tkhd[0] + (76 if v == 0 else 88)
        width = struct.unpack_from(">I", payload, fixed)[0] >> 16
        height = struct.unpack_from(">I", payload, fixed + 4)[0] >> 16

    mdhd = _mp4_child(payload, mb, me, b"mdhd")
    if mdhd is None:
        raise ValueError("trak has no mdhd")
    v = payload[mdhd[0]]
    if v == 1:
        timescale, duration = struct.unpack_from(">IQ", payload, mdhd[0] + 4 + 16)
    else:
        timescale, duration = struct.unpack_from(">II", payload, mdhd[0] + 4 + 8)

    minf = _mp4_child(payload, mb, me, b"minf")
    stbl = _mp4_child(payload, *minf, b"stbl") if minf else None
    if stbl is None:
        raise ValueError("trak has no sample table (stbl)")

    stsd = _mp4_child(payload, *stbl, b"stsd")
    fourcc, sd_w, sd_h = "", 0, 0
    if stsd and struct.unpack_from(">I", payload, stsd[0] + 4)[0] >= 1:
        eb = stsd[0] + 8  # first sample entry: size+fourcc then VisualSampleEntry
        fourcc = payload[eb + 4 : eb + 8].decode("latin1")
        sd_w, sd_h = struct.unpack_from(">HH", payload, eb + 8 + 6 + 2 + 16)

    stts = _mp4_child(payload, *stbl, b"stts")
    n_from_stts, dur_from_stts = 0, 0
    if stts:
        (cnt,) = struct.unpack_from(">I", payload, stts[0] + 4)
        for i in range(cnt):
            c, d = struct.unpack_from(">II", payload, stts[0] + 8 + 8 * i)
            n_from_stts += c
            dur_from_stts += c * d

    stsz = _mp4_child(payload, *stbl, b"stsz")
    if stsz is None:
        raise ValueError("stbl has no stsz")
    const_size, n_samples = struct.unpack_from(">II", payload, stsz[0] + 4)
    if const_size * n_samples > len(payload):
        raise ValueError(f"stsz declares {n_samples} samples of {const_size} bytes")
    sizes = (
        [const_size] * n_samples
        if const_size
        else list(struct.unpack_from(f">{n_samples}I", payload, stsz[0] + 12))
    )

    stco = _mp4_child(payload, *stbl, b"stco")
    if stco:
        (nch,) = struct.unpack_from(">I", payload, stco[0] + 4)
        chunk_offsets = list(struct.unpack_from(f">{nch}I", payload, stco[0] + 8))
    else:
        co64 = _mp4_child(payload, *stbl, b"co64")
        if co64 is None:
            raise ValueError("stbl has neither stco nor co64")
        (nch,) = struct.unpack_from(">I", payload, co64[0] + 4)
        chunk_offsets = list(struct.unpack_from(f">{nch}Q", payload, co64[0] + 8))

    stsc = _mp4_child(payload, *stbl, b"stsc")
    if stsc is None:
        raise ValueError("stbl has no stsc")
    (nruns,) = struct.unpack_from(">I", payload, stsc[0] + 4)
    runs = [
        struct.unpack_from(">III", payload, stsc[0] + 8 + 12 * i)[:2]
        for i in range(nruns)
    ]

    # ISO 14496-12 §8.7.4: each stsc run covers chunks [first_chunk, next
    # run's first_chunk); samples are laid out contiguously within a chunk
    samples: list[bytes] = []
    si = 0
    for ri, (first, per) in enumerate(runs):
        last = runs[ri + 1][0] - 1 if ri + 1 < len(runs) else len(chunk_offsets)
        for ch in range(first, last + 1):
            pos = chunk_offsets[ch - 1]
            for _ in range(per):
                if si >= n_samples:
                    break
                samples.append(bytes(payload[pos : pos + sizes[si]]))
                if len(samples[-1]) != sizes[si]:
                    raise ValueError(f"sample {si} overruns the file")
                pos += sizes[si]
                si += 1
    if si != n_samples:
        raise ValueError(f"chunk map yields {si} samples, stsz declares {n_samples}")
    if n_from_stts and n_from_stts != n_samples:
        raise ValueError(f"stts declares {n_from_stts} samples, stsz {n_samples}")

    return {
        "width": int(width or sd_w),
        "height": int(height or sd_h),
        "fourcc": fourcc,
        "handler": handler,
        "timescale": int(timescale),
        "duration": int(duration or dur_from_stts),
        "duration_ms": int((duration or dur_from_stts) * 1000 // max(timescale, 1)),
        "n_samples": int(n_samples),
        "n_chunks": len(chunk_offsets),
        "samples": samples,
    }


# ----------------------------------------------------------- MPEG audio
# MP3 frame-level parsing with zero external libraries: ID3v2/ID3v1 tag
# skipping, the 4-byte frame-header field split, the spec's bitrate /
# sample-rate tables for all three MPEG versions x three layers, the exact
# frame-length arithmetic (Layer I slot-of-4 rule; Layer III's 72-factor for
# MPEG-2/2.5), optional CRC-16 slot, and free-format (bitrate index 0) frame
# sizing by same-header sync scan. The Huffman AUDIO codec stays at the
# register_decoder seam — the frame walk, which is the part a training-data
# pipeline owns (how many frames, which bytes are frame k, what duration to
# account), is real and oracle-gated. Reference analog: binary payloads flow
# opaque end to end (PipeCodec, msg_data).

# bitrate tables in kbps, index 1..14 (0 = free format, 15 = reserved)
_MP3_BITRATES = {
    ("1", 1): [32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    ("1", 2): [32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    ("1", 3): [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    ("2", 1): [32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    ("2", 2): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    ("2", 3): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_MP3_RATES = {"1": [44100, 48000, 32000], "2": [22050, 24000, 16000], "2.5": [11025, 12000, 8000]}
_MP3_VER_BITS = {"2.5": 0, "2": 2, "1": 3}
_MP3_LAYER_BITS = {1: 3, 2: 2, 3: 1}


def _mp3_samples_per_frame(version: str, layer: int) -> int:
    if layer == 1:
        return 384
    if layer == 2:
        return 1152
    return 1152 if version == "1" else 576  # Layer III halves for MPEG-2/2.5


def mp3_frame_len(version: str, layer: int, bitrate_idx: int, sr_idx: int, padding: int) -> int:
    """Exact frame length in bytes from the header fields (tabled bitrates).
    Layer I counts 4-byte slots; Layers II/III count byte slots; Layer III
    under MPEG-2/2.5 uses the 72 factor (576 samples/frame)."""
    br = _MP3_BITRATES[(version if version == "1" else "2", layer)][bitrate_idx - 1] * 1000
    sr = _MP3_RATES[version][sr_idx]
    if layer == 1:
        return (12 * br // sr + padding) * 4
    factor = 72 if (layer == 3 and version != "1") else 144
    return factor * br // sr + padding


def _mp3_header(
    version: str, layer: int, bitrate_idx: int, sr_idx: int, padding: int = 0, crc: bool = False
) -> bytes:
    """A mono (channel mode 3) MPEG audio frame header."""
    hdr = (
        (0x7FF << 21)
        | (_MP3_VER_BITS[version] << 19)
        | (_MP3_LAYER_BITS[layer] << 17)
        | ((0 if crc else 1) << 16)
        | (bitrate_idx << 12)
        | (sr_idx << 10)
        | (padding << 9)
        | (3 << 6)
    )
    return struct.pack(">I", hdr)


def mp3_frame_bytes(
    payload: bytes, version: str = "1", layer: int = 3, bitrate_idx: int = 9,
    sr_idx: int = 0, padding: int = 0, crc: bool = False,
) -> bytes:
    """One spec-exact mono MPEG audio frame with a tabled bitrate: the payload
    must fill the frame's data slot exactly (frame_len - 4 header - 2 if CRC)."""
    flen = mp3_frame_len(version, layer, bitrate_idx, sr_idx, padding)
    cap = flen - 4 - (2 if crc else 0)
    if len(payload) != cap:
        raise ValueError(f"payload must be exactly {cap} bytes for this header, got {len(payload)}")
    head = _mp3_header(version, layer, bitrate_idx, sr_idx, padding, crc)
    body = (b"\x00\x00" if crc else b"") + payload  # CRC value itself is codec-checked, not ours
    return head + body


def mp3_free_bytes(frames: list[bytes]) -> bytes:
    """Free-format (bitrate index 0) MPEG-1 Layer III mono stream at 32 kHz:
    every frame carries the same header and an arbitrary-but-constant data
    size; decoders size the frames by scanning to the next sync (ISO
    11172-3 allows exactly this). Frame payloads must not contain 0xFF bytes
    (valid UTF-8 never does), which the writer enforces."""
    head = _mp3_header("1", 3, 0, 2)
    for f in frames:
        if b"\xff" in f:
            raise ValueError("free-format frame payloads must not contain 0xFF (false sync)")
    return b"".join(head + f for f in frames)


def id3v2_bytes(fields: dict[str, str]) -> bytes:
    """Minimal structurally-valid ID3v2.3 tag (the metadata prefix real MP3
    corpora carry): per-field frames with 4-byte ids, big-endian sizes, and a
    syncsafe total length in the 10-byte header."""
    body = b""
    for fid, text in fields.items():
        data = b"\x00" + text.encode("latin1")  # encoding byte 0 = ISO-8859-1
        body += fid.encode("ascii")[:4].ljust(4, b"X") + struct.pack(">I", len(data)) + b"\x00\x00" + data
    n = len(body)
    syncsafe = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])
    return b"ID3\x03\x00\x00" + syncsafe + body


_ID3V1_STUB = b"TAG" + b"\x00" * 125


def _mp3_features(mp3: dict, k: int):
    """[sample_rate, channels, layer, n_samples, duration_ms] + per-frame
    byte means (the registry-seam stand-in for the Huffman codec)."""
    head = [mp3[f] for f in ("sample_rate", "channels", "layer", "n_samples", "duration_ms")]
    return head, _byte_means(mp3["frames"][:k])


@_codec(
    "mp3",
    "audio",
    features=_mp3_features,
    # the builder writes identical free-format frame payloads between
    # ID3v2/ID3v1 tags, so the md5 covers every frame's bytes sized by the
    # real sync scan
    summary=lambda mp3: (
        b"".join(mp3["frames"]), len(mp3["frames"][0]), mp3["sample_rate"], mp3["duration_ms"]
    ),
)
def decode_mp3(payload: bytes) -> dict:
    """MPEG audio (MP3 family) frame walk in pure stdlib: skip ID3v2 (syncsafe
    size + optional footer) and a trailing ID3v1 block, then iterate frames —
    header field split, tabled or free-format sizing, CRC slot skip — and
    slice every frame's exact data bytes. Mixed-bitrate (VBR) streams are
    walked per-frame; version/layer/sample-rate changes mid-stream are
    refused loudly (corrupt stream, not a feature)."""
    pos, has_id3v2 = 0, False
    if payload[:3] == b"ID3" and len(payload) >= 10:
        has_id3v2 = True
        flags = payload[5]
        size = (payload[6] << 21) | (payload[7] << 14) | (payload[8] << 7) | payload[9]
        pos = 10 + size + (10 if flags & 0x10 else 0)
    end, has_id3v1 = len(payload), False
    if end - pos >= 128 and payload[end - 128 : end - 125] == b"TAG":
        has_id3v1, end = True, end - 128

    frames: list[bytes] = []
    bitrates: list[int] = []
    stream_key = None  # (version, layer, sr_idx, crc) must stay constant
    free_size = None
    version, layer, sr_idx, channel_mode, crc = "", 0, 0, 3, False
    while pos < end:
        if end - pos < 4:
            raise ValueError(f"truncated MPEG frame header at byte {pos}")
        (hdr,) = struct.unpack_from(">I", payload, pos)
        if (hdr >> 21) & 0x7FF != 0x7FF:
            raise ValueError(f"lost frame sync at byte {pos}")
        ver_bits = (hdr >> 19) & 3
        layer_bits = (hdr >> 17) & 3
        if ver_bits == 1 or layer_bits == 0:
            raise ValueError("reserved MPEG version/layer bits")
        version = {0: "2.5", 2: "2", 3: "1"}[ver_bits]
        layer = {3: 1, 2: 2, 1: 3}[layer_bits]
        crc = (hdr >> 16) & 1 == 0
        br_idx = (hdr >> 12) & 0xF
        sr_idx = (hdr >> 10) & 3
        pad = (hdr >> 9) & 1
        channel_mode = (hdr >> 6) & 3
        if br_idx == 15 or sr_idx == 3:
            raise ValueError("reserved bitrate/sample-rate index")
        key = (version, layer, sr_idx, crc)
        if stream_key is None:
            stream_key = key
        elif key != stream_key:
            raise ValueError(f"frame {len(frames)} changes version/layer/rate mid-stream")
        if br_idx == 0:  # free format: constant frame size, found by sync scan
            if free_size is None:
                nxt = payload.find(payload[pos : pos + 4], pos + 4, end)
                free_size = (nxt - pos) if nxt != -1 else (end - pos)
            flen = min(free_size, end - pos)
            bitrates.append(0)
        else:
            flen = mp3_frame_len(version, layer, br_idx, sr_idx, pad)
            bitrates.append(_MP3_BITRATES[(version if version == "1" else "2", layer)][br_idx - 1])
        if pos + flen > end:
            raise ValueError(f"frame {len(frames)} overruns the stream")
        data_start = pos + 4 + (2 if crc else 0)
        frames.append(bytes(payload[data_start : pos + flen]))
        pos += flen
    if not frames:
        raise ValueError("no MPEG audio frames")

    spf = _mp3_samples_per_frame(version, layer)
    sample_rate = _MP3_RATES[version][sr_idx]
    tabled = [b for b in bitrates if b]
    return {
        "version": version,
        "layer": layer,
        "sample_rate": sample_rate,
        "channels": 1 if channel_mode == 3 else 2,
        "samples_per_frame": spf,
        "n_frames": len(frames),
        "n_samples": spf * len(frames),
        "duration_ms": spf * len(frames) * 1000 // sample_rate,
        "bitrate_kbps": tabled[0] if tabled and len(set(tabled)) == 1 else 0,
        "vbr": len(set(bitrates)) > 1,
        "free_format": 0 in bitrates,
        "has_id3v2": has_id3v2,
        "has_id3v1": has_id3v1,
        "frames": frames,
    }


def _container(payload: bytes) -> str:
    """The container a payload's magic bytes name: "wav" (RIFF), "png",
    "mp4" (ftyp box at byte 4), "gif", "mp3" (ID3 tag or an MPEG frame
    sync), "jpeg" (SOI), "ppm" (P6), "bmp", or "" for none, checked in
    this order."""
    if payload[:4] == b"RIFF":
        return "wav"
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        return "png"
    if payload[4:8] == b"ftyp":
        return "mp4"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:3] == b"ID3" or (len(payload) >= 2 and payload[0] == 0xFF and payload[1] & 0xE0 == 0xE0):
        return "mp3"
    return {b"\xff\xd8": "jpeg", b"P6": "ppm", b"BM": "bmp"}.get(payload[:2], "")


def _lookup(payload: bytes) -> tuple[str, _Codec | None]:
    """The payload's container and its _CODECS row (None for a container
    with no row): the one dispatch every entry point goes through."""
    name = _container(payload)
    return name, _CODECS.get(name)


def _fake_features(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in for a real encoder: seed numpy from the payload
    digest. Stable for identical bytes on any executor."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:4], "big")
    return np.random.RandomState(seed).standard_normal(dim).astype(np.float32)


#: per-kind real decoders, registered when codec libraries exist on the
#: cluster (register_decoder("image", pil_decode), ...), taking over from
#: the _CODECS rows of their kind. Each maps
#: (payload: bytes, dim: int) -> np.ndarray of length dim. The ONLY stubbed
#: surface is the codec call itself — dispatch, batching, schema and
#: partitioning are real and tested (mock decoders injected in tests).
_REAL_DECODERS: dict = {}


def register_decoder(kind: str, fn) -> None:
    _REAL_DECODERS[kind] = fn


def decode_media(
    payload: bytes, kind: str, use_real: bool = False, dim: int = 64, decoder=None
) -> np.ndarray:
    """`dim` features of one payload: the fake digest-seeded stand-in, or with
    use_real=True the injected `decoder`, the one registered for `kind`, or
    the payload's _CODECS row — its 5-value head then its series,
    zero-padded to `dim`. A kind that no row has and no decoder is
    registered for raises NotImplementedError (register_decoder plugs e.g.
    ffmpeg in on a cluster); a payload whose container is not a built-in
    `kind` raises ValueError."""
    if not use_real:
        return _fake_features(payload, dim)
    fn = decoder or _REAL_DECODERS.get(kind)
    if fn is not None:
        return np.asarray(fn(payload, dim), dtype=np.float32)
    if all(c.kind != kind for c in _CODECS.values()):
        raise NotImplementedError(f"no registered decoder for {kind!r}")
    name, codec = _lookup(payload)
    if codec is None or codec.kind != kind:
        raise ValueError(f"{name or 'unknown'} payload is not a built-in {kind} container")
    head, series = codec.features(codec.decode(payload), max(dim - 5, 0))
    return np.asarray((head + series + [0.0] * dim)[:dim], dtype=np.float32)


def extract_features(
    df: DataFrame, dim: int = 64, use_real: bool = False, decoder=None
) -> DataFrame:
    """mapInPandas feature extraction: one Arrow batch in, one out; payload
    bytes stay in Arrow buffers end to end. With use_real=True, dispatches to
    the per-kind registered decoders (or the injected `decoder`) — the same
    batched plumbing either way."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_media(
                    p if p is not None else b"", k, use_real=use_real, dim=dim, decoder=decoder
                )
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "features": [f.tolist() for f in feats],
                }
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)


def frame_sample(df: DataFrame, container: str, every_n: int = 2) -> DataFrame:
    """Frame sampling, 1 media row -> k frame rows: each `container` payload's
    frames from its _CODECS row (GIF: every decoded, composited gray canvas;
    MP4: every sample's exact bytes from the stsc/stco walk — the
    container's own index, no codec needed), keeping every n-th. Payloads of
    other containers yield none. An ffmpeg keyframe iterator drops in as a
    row."""
    codec = _CODECS.get(container)
    if codec is None or codec.frames is None:
        raise ValueError(f"no frames for container {container!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload or b"")
                if _lookup(payload)[0] == container:
                    frames = codec.frames(codec.decode(payload))
                    rows += [(mid, i, frames[i]) for i in range(0, len(frames), every_n)]
            yield pd.DataFrame(rows, columns=FRAME_SCHEMA.fieldNames())

    return df.mapInPandas(run, FRAME_SCHEMA)


def media_from_documents(docs: DataFrame, limit: int | None = None) -> DataFrame:
    """Deterministic media table derived from the documents table: the text
    payload is treated as the opaque binary blob (UTF-8 bytes), kind cycles by
    doc_id. Fully distributed (a projection, no driver data), and every output
    column is predictable from the source table — which is what lets the
    multimodal feature path have an exact ANSI-SQL oracle twin: n_bytes is
    computed from the REAL payload bytes inside the Arrow batch, the oracle
    recomputes it as octet_length(encode(text))."""
    out = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.create_map(F.lit("codec"), F.lit("fake")).alias("meta"),
    )
    if limit is not None:
        out = out.filter(F.col("media_id") < limit)
    return out


REAL_SUMMARY_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_units", IntegerType(), False),  # samples (wav) / pixels (ppm)
        StructField("rate", IntegerType(), False),  # sample_rate (wav) / maxval (ppm)
        StructField("duration_ms", IntegerType(), False),  # floor ms (wav) / height (ppm)
        StructField("content_md5", StringType(), False),  # md5 of DECODED content
    ]
)

def _png_fixture(interlace: int):
    def row(did: int, b: bytes):
        img = np.tile(np.frombuffer(b, np.uint8), (5, 1))
        ctype = (0, 2, 3)[did % 3]
        if ctype == 2:
            img = np.repeat(img[:, :, None], 3, axis=2)
        codec = "adam7" if interlace else "sequential"
        payload = png_encode(img, color_type=ctype, interlace=interlace)
        return "image", payload, {"container": "png", "codec": codec}

    return row


#: fixture -> (doc_id, UTF-8 text bytes) -> (kind, payload, meta). Every
#: payload is a spec-valid container that any standard reader decodes, laid
#: out so decoding is EXACTLY invertible: decode_real_summary's content_md5
#: and geometry are recomputable from `documents` alone, which is what gives
#: each multimodal_* contract query its ANSI-SQL oracle twin.
MEDIA_FIXTURES = {
    # even docs: 8-bit PCM WAV at 16 kHz whose samples ARE the text bytes
    # (RIFF chunk walk); odd docs: P6 PPM whose R=G=B pixels are the bytes
    "wav_ppm": lambda did, b: (
        ("audio", wav_bytes(b, sample_rate=16000), {"container": "wav", "codec": "pcm_u8"})
        if did % 2 == 0
        else ("image", ppm_bytes(b), {"container": "ppm", "codec": "raw"})
    ),
    # baseline SOF0 grayscale, each byte one constant 8x8 block under unit
    # quantizers: Annex-K Huffman, zigzag, dequantize and IDCT all round-trip
    "jpeg": lambda did, b: (
        "image", jpeg_bytes(b), {"container": "jpeg", "codec": "baseline"}
    ),
    # interleaved YCbCr 4:4:4, each byte one MCU (Cb/Cr fixed derivations of
    # Y, so three DC predictor chains diverge), RSTn every 4 MCUs: restart
    # sequence check + per-component predictor reset
    "jpeg_color": lambda did, b: (
        "image",
        jpeg_color_bytes(b, restart_interval=4),
        {"container": "jpeg", "codec": "baseline-ycbcr444-dri"},
    ),
    # YCbCr 4:2:0, each byte one 16x16 MCU (four distinct luma blocks +
    # quarter-res Cb/Cr), RSTn every 4 MCUs: per-component MCU geometry,
    # Y00 Y01 Y10 Y11 Cb Cr data-unit order, chroma upsampling
    "jpeg420": lambda did, b: (
        "image",
        jpeg420_bytes(b, restart_interval=4),
        {"container": "jpeg", "codec": "baseline-ycbcr420-dri"},
    ),
    # progressive SOF2 over six scans (DC at Al=1, a DC refinement plane, AC
    # first + refinement with shared EOBRUN), RSTn every 3 units per scan:
    # coefficients accumulate across scans, then dequantize + IDCT once
    "jpeg_progressive": lambda did, b: (
        "image",
        jpeg_progressive_bytes(b, restart_interval=3),
        {"container": "jpeg", "codec": "progressive-sa-dri"},
    ),
    # five identical scanlines of the bytes through cycling filters (every
    # predictor in every payload), color type rotating by doc_id over
    # grayscale / truecolor (R=G=B) / indexed+PLTE; CRC-checked chunk walk
    "png": _png_fixture(0),
    # the same five rows split into the seven Adam7 passes, each filtered
    # on its own: interlacing must be a pure pixel re-ordering
    "png_adam7": _png_fixture(1),
    # animated GIF89a: 3 full-canvas frames of 4 identical rows (identity
    # gray palette, odd frames row-interlaced); long docs push LZW through
    # 9->12-bit growth and the 4096-entry reset. The repo's real VIDEO kind
    "gif": lambda did, b: (
        "video",
        gif_bytes(b, height=4, n_frames=3, interlace_alt=True),
        {"container": "gif", "codec": "lzw", "frames": "3"},
    ),
    # MP4/ISO-BMFF with 3 samples that each ARE the bytes, 2 per chunk (the
    # short trailing chunk forces a second stsc run), 40 ms each at 1 kHz:
    # only the stsc/stco walk from absolute offsets recovers every sample
    "mp4": lambda did, b: (
        "video",
        mp4_bytes([b] * 3),
        {"container": "mp4", "codec": "gry8", "frames": "3"},
    ),
    # ID3v2.3 tag + 3 free-format MPEG-1 Layer III frames whose data bytes
    # ARE the text + ID3v1 trailer, 32 kHz (3 x 1152 samples = 108 ms): tag
    # skip, header split and sync-scan frame sizing must all be exact
    "mp3": lambda did, b: (
        "audio",
        id3v2_bytes({"TIT2": f"doc {did}"}) + mp3_free_bytes([b] * 3) + _ID3V1_STUB,
        {"container": "mp3", "codec": "mp3-free", "frames": "3"},
    ),
    # G.711 A-law WAV (format tag 6, 8 kHz mono) whose codes ARE the bytes.
    # A-law is injective over all 256 codes, so expanding to int16 and
    # re-compressing gates both directions (mu-law's +0/-0 pair collapses)
    "g711": lambda did, b: (
        "audio", wav_g711_bytes(b, law="alaw"), {"container": "wav", "codec": "alaw"}
    ),
}


def docs_to_media(docs: DataFrame, fixture: str, limit: int | None = None) -> DataFrame:
    """Media table of REAL containers built from the documents table: each
    doc's UTF-8 text bytes become one MEDIA_FIXTURES[fixture] payload.
    Fully distributed — the encoders run inside mapInPandas, one Arrow batch
    in and one out."""
    make = MEDIA_FIXTURES[fixture]
    src = docs.select("doc_id", "text")
    if limit is not None:
        src = src.filter(F.col("doc_id") < limit)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                [
                    make(int(did), (t or "").encode("utf-8"))
                    for did, t in zip(pdf["doc_id"], pdf["text"])
                ],
                columns=["kind", "payload", "meta"],
            )
            out.insert(0, "media_id", pdf["doc_id"])
            yield out

    return src.mapInPandas(build, MEDIA_SCHEMA)


def decode_real_summary(media: DataFrame) -> DataFrame:
    """REAL-decode summary — the oracle-gated proof that `use_real` decoding
    round-trips: each payload goes through its container's _CODECS row
    (WAV incl. G.711, PPM, PNG, JPEG, GIF, MP4, MP3), whose summary
    re-serializes the DECODED samples/pixels/frames for the md5. The digest
    equals md5 of the source text bytes only if chunk walking, header
    parsing and sample/pixel extraction — for JPEG the whole
    Huffman/zigzag/dequantize/IDCT pipeline — are all correct. A container
    with no summary (BMP, or none at all) raises ValueError naming it."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                payload = bytes(payload or b"")
                name, codec = _lookup(payload)
                if codec is None or codec.summary is None:
                    raise ValueError(f"no decode summary for {name or 'unknown'} payloads")
                content, n_units, rate, duration_ms = codec.summary(codec.decode(payload))
                md5 = hashlib.md5(content).hexdigest()
                rows.append((mid, kind, int(n_units), int(rate), int(duration_ms), md5))
            yield pd.DataFrame(rows, columns=REAL_SUMMARY_SCHEMA.fieldNames())

    return media.mapInPandas(run, REAL_SUMMARY_SCHEMA)


def synthetic_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table for tests (payload = seeded bytes)."""
    rows = []
    rng = np.random.RandomState(seed)
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = rng.bytes(512 + (i % 5) * 700)
        rows.append((i, kind, bytearray(payload), {"codec": "fake", "idx": str(i)}))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
