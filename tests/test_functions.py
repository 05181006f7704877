"""Text analysis / dedup / similarity / multimodal function tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from aqueduct_core_spark.functions.dedup import (
    exact_dedup,
    exact_duplicate_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    token_jaccard_pairs,
)
from aqueduct_core_spark.functions.multimodal import (
    decode_media,
    extract_features,
    frame_sample,
    synthetic_media,
)
from aqueduct_core_spark.functions.similarity import (
    ann_neardup_pairs,
    cosine_topk,
    embedding_neardup_pairs,
)
from aqueduct_core_spark.functions.text import add_quality_features, lang_id, token_count


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog and it is fine for you"),
        (2, "The quick brown fox jumps over the lazy dog and it is fine for you"),  # exact dup of 1
        (3, "The quick brown fox jumps over the lazy dog and it is fine for me"),  # near dup of 1
        (4, "el gato y el perro en la casa de los abuelos con un libro"),
        (5, "der hund und die katze sind nicht ein problem mit sie"),
        (6, "completely different text about spark query engines and shuffles"),
        (7, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count_and_features(spark, docs):
    out = add_quality_features(docs).orderBy("doc_id").collect()
    assert out[0]["n_tokens"] == 15
    assert out[6]["n_tokens"] == 0
    assert all(0.0 <= r["quality"] <= 1.0 for r in out)
    # identical texts -> identical fingerprint; different -> different
    assert out[0]["fingerprint"] == out[1]["fingerprint"]
    assert out[0]["fingerprint"] != out[2]["fingerprint"]


def test_lang_id(spark, docs):
    langs = {r["doc_id"]: r["l"] for r in docs.select("doc_id", lang_id(F.col("text")).alias("l")).collect()}
    assert langs[1] == "en"
    assert langs[4] == "es"
    assert langs[5] == "de"
    assert langs[7] == "und"


def test_exact_dedup(spark, docs):
    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1 and groups[0]["ids"] == [1, 2] and groups[0]["keep_id"] == 1
    kept = exact_dedup(docs)
    assert kept.count() == 6
    assert kept.filter(F.col("doc_id") == 2).count() == 0


def test_token_jaccard_pairs(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in token_jaccard_pairs(docs, 0.8).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.8
    assert all(a < b for (a, b) in pairs)


def test_minhash_lsh_finds_near_dups(spark, docs):
    sigs = minhash_signatures(docs.filter("text != ''"), num_hashes=32, shingle_n=3)
    assert sigs.count() == 6
    pairs = lsh_candidate_pairs(sigs, bands=8, n_hashes=32)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in found  # exact dup always collides
    assert (1, 3) in found  # near dup should collide in some band
    assert (1, 6) not in found


def test_lsh_candidate_pairs_rejects_bad_geometry(spark, docs):
    """A signature shorter than n_hashes fails the query instead of being
    banded wrong; bands outside 1..n_hashes is rejected before any job."""
    sigs16 = minhash_signatures(docs.filter("text != ''"), num_hashes=16, shingle_n=3)
    with pytest.raises(Exception, match="n_hashes=32"):
        lsh_candidate_pairs(sigs16, bands=8, n_hashes=32).collect()
    for bands in (0, 33):
        with pytest.raises(ValueError):
            lsh_candidate_pairs(sigs16, bands=bands, n_hashes=32)


def test_pair_plans_run_no_hidden_action(spark, docs, vectors, monkeypatch):
    """Building a pair plan runs only its declared localCheckpoint barriers:
    no driver-side first/collect/take/count."""
    from aqueduct_core_spark.functions.dedup import (
        minhash_lsh_verified_pairs,
        simhash_near_pairs_words,
        simhash_words,
    )

    live = docs.filter("text != ''")
    emb, _ = vectors

    def hidden(*args, **kwargs):
        raise AssertionError("hidden driver action while building a plan")

    with monkeypatch.context() as m:
        for name in ("first", "collect", "take", "count"):
            m.setattr(type(live), name, hidden)  # the concrete (classic) class
        with pytest.raises(AssertionError):
            live.count()
        lsh_candidate_pairs(minhash_signatures(live), bands=8, n_hashes=32)
        minhash_lsh_verified_pairs(docs, bands=16)
        simhash_near_pairs_words(simhash_words(live), fat_bucket_cap=2)
        ann_neardup_pairs(emb, dim=16, threshold=0.99, nbits=8, n_tables=2)


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    base = rng.standard_normal(16)
    rows = []
    for i in range(40):
        if i < 3:  # tight cluster around base
            v = base + rng.standard_normal(16) * 0.01
        else:
            v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), base


def test_cosine_topk(spark, vectors):
    df, base = vectors
    top = cosine_topk(df, [float(x) for x in base], k=3).collect()
    assert {r["vec_id"] for r in top} == {0, 1, 2}
    assert all(r["cosine"] > 0.99 for r in top)


def test_embedding_neardup_exact_and_ann(spark, vectors):
    df, _ = vectors
    exact = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(df, 0.99).collect()}
    assert exact == {(0, 1), (0, 2), (1, 2)}
    approx = {(r["id_a"], r["id_b"]) for r in ann_neardup_pairs(df, dim=16, threshold=0.99, nbits=8).collect()}
    # ANN must be a subset of exact, and catch the tight cluster
    assert approx <= exact and len(approx) >= 1


def test_multimodal_plumbing(spark):
    media = synthetic_media(spark, n=30)
    feats = extract_features(media, dim=16)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r["features"]) == 16 for r in rows)
    # determinism: same payload bytes -> same features on re-run
    again = {r["media_id"]: r["features"] for r in extract_features(media, dim=16).collect()}
    first = {r["media_id"]: r["features"] for r in rows}
    assert again == first

    # frames come from a container's own frame sequence: these seeded
    # random payloads hold no GIF, so the GIF sampler yields none
    assert frame_sample(media, "gif", every_n=2).count() == 0

    # video now has a built-in real parser too (animated GIF) — like image,
    # it rejects unknown containers; the registry seam remains for MP4/ffmpeg
    with pytest.raises(ValueError):
        decode_media(b"xx", "video", use_real=True)
    with pytest.raises(ValueError):
        decode_media(b"xx", "image", use_real=True)


def test_cosine_math_sanity():
    # plain python check of the rounding contract used in oracles
    a = [1.0, 0.0]
    b = [1.0, 1.0]
    expected = 1.0 / math.sqrt(2)
    assert abs(expected - 0.707107) < 1e-6


def test_minhash_verified_pairs_equal_exact(spark, docs):
    """Exact-verified LSH output == brute-force distinct-shingle Jaccard."""
    from itertools import combinations

    from aqueduct_core_spark.functions.dedup import minhash_lsh_verified_pairs

    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_verified_pairs(docs, bands=16, threshold=0.5).collect()
    }
    # brute force in python
    import re

    def shingles(t):
        toks = [x for x in re.split(r"[^a-z0-9']+", t.lower()) if x]
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)} if len(toks) >= 3 else None

    sets = {r["doc_id"]: shingles(r["text"]) for r in docs.collect()}
    expect = {}
    for a, b in combinations(sorted(k for k, v in sets.items() if v), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if round(j, 6) >= 0.5:
            expect[(a, b)] = round(j, 6)
    assert out == expect
    assert (1, 2) in out  # exact dup pair present


def test_simhash_words_lossless_banding(spark, docs):
    """Pigeonhole: bands=8 > max_hamming=6 makes the banded join exactly the
    all-pairs hamming filter; identical text -> identical words."""
    from itertools import combinations

    from aqueduct_core_spark.functions.dedup import simhash_near_pairs_words, simhash_words

    sim = simhash_words(docs.filter("text != ''"))
    vals = {r["id"]: (r["sim_hi"], r["sim_lo"]) for r in sim.collect()}
    assert vals[1] == vals[2]
    assert all(0 <= hi < 2**32 and 0 <= lo < 2**32 for hi, lo in vals.values())
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs_words(sim, max_hamming=20, bands=32).collect()
    }
    expect = {}
    for a, b in combinations(sorted(vals), 2):
        ham = bin((vals[a][0] ^ vals[b][0])).count("1") + bin(vals[a][1] ^ vals[b][1]).count("1")
        if ham <= 20:
            expect[(a, b)] = ham
    assert pairs == expect


def test_ann_multi_table_recall_grows(spark, vectors):
    df, _ = vectors
    exact = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(df, 0.99).collect()}
    one = {
        (r["id_a"], r["id_b"])
        for r in ann_neardup_pairs(df, dim=16, threshold=0.99, nbits=8, n_tables=1).collect()
    }
    many = {
        (r["id_a"], r["id_b"])
        for r in ann_neardup_pairs(df, dim=16, threshold=0.99, nbits=8, n_tables=8).collect()
    }
    assert one <= many <= exact  # more tables only add candidates; verify bounds them
    assert many == exact  # 8 tables catch the tight cluster fully


def test_media_from_documents_payload_bytes(spark):
    from aqueduct_core_spark.functions.multimodal import extract_features, media_from_documents

    docs = spark.createDataFrame(
        [(0, "hello"), (1, "héllo"), (2, ""), (3, "abc" * 100)], "doc_id long, text string"
    )
    feats = {r["media_id"]: r for r in extract_features(media_from_documents(docs), dim=4).collect()}
    assert feats[0]["n_bytes"] == 5
    assert feats[1]["n_bytes"] == 6  # é is 2 bytes in UTF-8 — real payload bytes measured
    assert feats[2]["n_bytes"] == 0
    assert feats[3]["n_bytes"] == 300
    assert feats[0]["kind"] == "image" and feats[1]["kind"] == "audio" and feats[2]["kind"] == "video"
    assert all(len(r["features"]) == 4 for r in feats.values())


def test_token_jaccard_doc_frequency_guard(spark):
    """An adversarial stopword present in EVERY doc must not create pairs (or
    join rows) once the df cap drops it; pair scores equal the brute-force
    Jaccard over the capped token sets."""
    from itertools import combinations

    rows = [
        (i, "common " + " ".join(f"w{i}x{j}" for j in range(5)) + (" shared extra" if i < 2 else ""))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in token_jaccard_pairs(df, threshold=0.15, max_doc_freq=10).collect()
    }
    # brute force over capped sets ('common' df=50 > 10 -> dropped everywhere)
    import re

    sets = {}
    all_toks = {}
    for i, t in rows:
        toks = set(x for x in re.split(r"[^a-z0-9']+", t.lower()) if x)
        sets[i] = toks
        for tok in toks:
            all_toks[tok] = all_toks.get(tok, 0) + 1
    capped = {i: {t for t in s if all_toks[t] <= 10} for i, s in sets.items()}
    expect = {}
    for a, b in combinations(sorted(capped), 2):
        u = capped[a] | capped[b]
        if not u:
            continue
        j = round(len(capped[a] & capped[b]) / len(u), 6)
        if j >= 0.15:
            expect[(a, b)] = j
    assert out == expect
    assert (0, 1) in out  # docs 0,1 still pair via 'shared extra'
    # without the cap, 'common' glues every doc pair into the join
    unguarded = token_jaccard_pairs(df, threshold=0.0, max_doc_freq=None)
    assert unguarded.count() == 50 * 49 / 2


def test_real_decoder_dispatch_injection(spark):
    """use_real=True dispatches per-kind through the decoder registry /
    injection — the stub boundary is ONLY the codec call."""
    import numpy as np

    from aqueduct_core_spark.functions.multimodal import (
        decode_media,
        extract_features,
        media_from_documents,
        register_decoder,
    )

    docs = spark.createDataFrame([(0, "aa"), (1, "bbbb"), (2, "cccccc")], "doc_id long, text string")
    media = media_from_documents(docs)

    def fake_codec(payload, dim):
        return np.full(dim, float(len(payload)))

    # injected decoder used for every kind
    feats = {r["media_id"]: r for r in extract_features(media, dim=3, use_real=True, decoder=fake_codec).collect()}
    assert feats[0]["features"] == [2.0, 2.0, 2.0]
    assert feats[1]["features"] == [4.0, 4.0, 4.0]
    assert feats[2]["features"] == [6.0, 6.0, 6.0]
    # registry dispatch per kind; unregistered kind raises NotImplementedError
    register_decoder("image", fake_codec)
    try:
        assert list(decode_media(b"xyz", "image", use_real=True, dim=2)) == [3.0, 3.0]
        import pytest as _pytest

        with _pytest.raises(NotImplementedError):
            # a kind with no built-in parser (video gained one: animated GIF)
            decode_media(b"xyz", "mp4", use_real=True, dim=2)
    finally:
        from aqueduct_core_spark.functions import multimodal as _mm

        _mm._REAL_DECODERS.clear()


def test_lsh_and_simhash_release_cached_blocks(spark, docs):
    """Regression for the guarded-path cache leak: with max_bucket_size set
    (the banded/chunk table is semi-joined), each call may leave only the one
    cached RDD that backs its result."""
    from aqueduct_core_spark.functions.dedup import (
        simhash_near_pairs_words,
        simhash_words,
    )

    def n_cached():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    base = n_cached()
    live = docs.filter("text != ''")

    # Each call legitimately leaves ONE cached RDD alive: the localCheckpoint
    # backing the returned DataFrame (released when the result is GC'd). The
    # leak added a SECOND — the orphaned banded/chunk cache — per call.
    sigs = minhash_signatures(live, num_hashes=32, shingle_n=3)
    p1 = lsh_candidate_pairs(sigs, bands=8, max_bucket_size=256, n_hashes=32)
    p1.collect()
    assert n_cached() <= base + 1

    simw = simhash_words(live)
    p2 = simhash_near_pairs_words(simw, max_hamming=6, bands=8, max_bucket_size=64)
    p2.collect()
    assert n_cached() <= base + 2


def test_real_codecs_roundtrip(spark):
    """Pure-numpy WAV/PPM/BMP encode -> decode round trips, including the
    non-trivial container details: chunk walking past extra chunks, 16-bit
    stereo PCM, BMP row padding and bottom-up flip."""
    import struct

    import numpy as np

    from aqueduct_core_spark.functions.multimodal import (
        bmp_bytes,
        decode_bmp,
        decode_ppm,
        decode_wav,
        ppm_bytes,
        wav_bytes,
    )

    # 8-bit mono WAV: samples are the raw bytes
    data = bytes(range(0, 250, 5))
    wav = decode_wav(wav_bytes(data, sample_rate=8000))
    assert (wav["sample_rate"], wav["channels"], wav["bits"]) == (8000, 1, 8)
    assert wav["n_samples"] == len(data)
    assert wav["samples"].tobytes() == data

    # 16-bit stereo WAV with an extra LIST chunk between fmt and data
    pcm = np.arange(-6, 6, dtype="<i2")  # 12 values -> 6 stereo frames
    raw = wav_bytes(pcm.tobytes(), sample_rate=44100, channels=2, bits=16)
    # splice an unknown chunk after fmt (offset 12+24=36) to exercise the walk
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd size -> pad byte
    raw = raw[:36] + extra + raw[36:]
    raw = raw[:4] + struct.pack("<I", len(raw) - 8) + raw[8:]
    wav2 = decode_wav(raw)
    assert (wav2["sample_rate"], wav2["channels"], wav2["bits"]) == (44100, 2, 16)
    assert wav2["n_samples"] == 6 and wav2["samples"].shape == (6, 2)
    assert wav2["samples"].tobytes() == pcm.tobytes()

    # PPM: R=G=B gray row; comment-tolerant header; empty payload works
    img = decode_ppm(ppm_bytes(data))
    assert (img["width"], img["height"], img["maxval"]) == (len(data), 1, 255)
    assert img["pixels"][:, :, 0].tobytes() == data
    assert img["pixels"][:, :, 2].tobytes() == data
    commented = b"P6\n# a comment\n3 1\n255\n" + b"\x01\x01\x01\x02\x02\x02\x03\x03\x03"
    assert decode_ppm(commented)["pixels"][0, 2, 0] == 3
    empty = decode_ppm(ppm_bytes(b""))
    assert empty["width"] == 0 and empty["pixels"].size == 0

    # BMP: width 3 -> 9-byte rows padded to 12; BGR on disk -> RGB out
    bgr = decode_bmp(bmp_bytes(data[:3]))
    assert (bgr["width"], bgr["height"]) == (3, 1)
    assert bgr["pixels"][:, :, 0].tobytes() == data[:3]


def test_extract_features_use_real_builtin(spark):
    """use_real=True is a genuinely exercised path for audio/image via the
    built-in WAV/PPM parsers — no injected decoder; video (needs real codec
    libs) still raises through the same dispatch."""
    from aqueduct_core_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        ppm_bytes,
        wav_bytes,
    )

    rows = [
        (0, "audio", bytearray(wav_bytes(bytes([10, 20, 30, 40]), sample_rate=2000)), {}),
        (1, "image", bytearray(ppm_bytes(bytes([100, 200]))), {}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r["features"] for r in extract_features(media, dim=6, use_real=True).collect()}
    # audio head: [sample_rate, channels, bits, n_samples, duration_ms]
    assert feats[0][:4] == [2000.0, 1.0, 8.0, 4.0]
    assert feats[0][4] == pytest.approx(4 * 1000.0 / 2000)
    # image head: [width, height, meanR, meanG, meanB]
    assert feats[1][:5] == [2.0, 1.0, 150.0, 150.0, 150.0]

    bad = spark.createDataFrame([(2, "mp4", bytearray(b"xx"), {})], MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|no registered decoder"):
        extract_features(bad, dim=4, use_real=True).collect()


def test_decode_real_summary_matches_source(spark):
    """The oracle contract locally: decoded-content md5 == md5 of the source
    text bytes, n_units == byte length, for both WAV and PPM branches."""
    import hashlib

    from aqueduct_core_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        bmp_bytes,
        decode_real_summary,
        docs_to_media,
    )

    docs = spark.createDataFrame(
        [(0, "hello world"), (1, "caffé"), (2, ""), (3, "x")], "doc_id long, text string"
    )
    out = {r["media_id"]: r for r in decode_real_summary(docs_to_media(docs, "wav_ppm")).collect()}
    for did, text in [(0, "hello world"), (1, "caffé"), (2, ""), (3, "x")]:
        b = text.encode("utf-8")
        r = out[did]
        assert r["kind"] == ("audio" if did % 2 == 0 else "image")
        assert r["n_units"] == len(b)
        assert r["content_md5"] == hashlib.md5(b).hexdigest()
        if did % 2 == 0:
            assert r["rate"] == 16000 and r["duration_ms"] == len(b) * 1000 // 16000
        else:
            assert r["rate"] == 255 and r["duration_ms"] == 1

    # a container with no summary (BMP) and a payload with no container
    # refuse with a ValueError that names them
    for payload, name in ((bmp_bytes(b"ab"), "bmp"), (b"plain text", "unknown")):
        bad = spark.createDataFrame([(9, "image", bytearray(payload), {})], MEDIA_SCHEMA)
        with pytest.raises(Exception, match=f"ValueError: no decode summary for {name} payloads"):
            decode_real_summary(bad).collect()


@pytest.mark.parametrize("sf", ["0.001", "0.01"])
def test_ann_lsh_oracle_sign_margin(sf):
    """Environment guard for the ann_neardup_lsh oracle's byte-exact claim:
    Spark buckets via numpy matmul (SIMD/pairwise summation), DuckDB via a
    sequential list_reduce fold — float summation ORDER differs, so the two
    agree on sign(dot) only when no projection sits near zero. Assert a wide
    margin on the fixed corpora; if this ever fails, the oracle mismatch is an
    ENVIRONMENT/corpus issue (a projection at the sign boundary), not an
    engine bug. Reassociation error on a 64-dim O(1) dot is ~1e-14; the
    measured corpus minima are 2.3e-7 (sf0.001) / 1.8e-4 (sf0.01), so 1e-9
    is a conservative tripwire with 5 orders of margin on both sides."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from aqueduct_core_spark.functions.similarity import lsh_hyperplanes

    path = f"/root/testdata/sf{sf}/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip(f"no test data at {path}")
    emb = np.array(pq.read_table(path).column("embedding").to_pylist(), dtype=np.float64)
    H = lsh_hyperplanes(emb.shape[1], 8, 4, seed=42)  # ANN_NBITS=8, ANN_TABLES=4
    dots = emb @ H.reshape(-1, emb.shape[1]).T  # (n_vecs, tables*bits)
    margin = float(np.abs(dots).min())
    assert margin > 1e-9, (
        f"|dot| margin {margin:.2e} at sf{sf} is inside the float-reassociation "
        "band — the DuckDB twin's sign(dot) may disagree with numpy; regenerate "
        "the corpus or change the seed"
    )


def test_simhash_fat_bucket_recursion_exact(spark, docs):
    """fat_bucket_cap must not change the output: with the cap forced to 0
    (every bucket takes the second-band path) the result still equals the
    all-pairs hamming filter — every hamming<=6 pair shares >= 2 of 8 bands."""
    from itertools import combinations

    from aqueduct_core_spark.functions.dedup import simhash_near_pairs_words, simhash_words

    sim = simhash_words(docs.filter("text != ''"))
    vals = {r["id"]: (r["sim_hi"], r["sim_lo"]) for r in sim.collect()}

    def ham(a, b):
        return bin((a[0] ^ b[0]) | ((a[1] ^ b[1]) << 32)).count("1")

    for cap in (0, 2):
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_near_pairs_words(
                sim, max_hamming=6, bands=8, fat_bucket_cap=cap
            ).collect()
        }
        expect = {
            (a, b): ham(vals[a], vals[b])
            for a, b in combinations(sorted(vals), 2)
            if ham(vals[a], vals[b]) <= 6
        }
        assert got == expect, f"cap={cap}"

    for bad in (
        dict(max_hamming=7, bands=8, fat_bucket_cap=8),
        dict(max_hamming=3, bands=5),
    ):
        with pytest.raises(ValueError):
            simhash_near_pairs_words(sim, **bad)


def test_jpeg_codec_roundtrip_exact():
    """Pure-numpy baseline JPEG: the constant-block layout round-trips every
    byte string bit-exactly (DC-only blocks, unit quantizers), and the
    decoder rejects non-baseline frames."""
    import hashlib

    import numpy as np

    from aqueduct_core_spark.functions.multimodal import decode_jpeg, jpeg_bytes

    for txt in [b"hello world", bytes(range(256)), b"\x00", b"\xff" * 100]:
        img = decode_jpeg(jpeg_bytes(txt))
        assert (img["width"], img["height"]) == (8 * len(txt), 8)
        assert img["pixels"][0, ::8].tobytes() == txt
        # blocks really are constant (whole-pixel-field check, not just [0,::8])
        px = img["pixels"]
        assert all(
            (px[:, 8 * i : 8 * i + 8] == txt[i]).all() for i in range(len(txt))
        )
    # a sequential stream mutated to SOF2 is an ILLEGAL progressive stream
    # (its single scan has the full-band header Ss=0,Se=63 — a progressive
    # DC scan must be exactly [0,0] per B.2.3) and must raise, not mis-decode
    enc = bytearray(jpeg_bytes(b"ab"))
    enc[enc.index(0xC0, 2, None)] = 0xC2  # SOF0 marker byte -> SOF2
    with pytest.raises(ValueError, match="B.2.3"):
        decode_jpeg(bytes(enc))


def test_jpeg_entropy_layer_exact_with_nonzero_ac():
    """The Huffman/zigzag/ZRL layer is exercised with real AC coefficients:
    hand-assemble a scan of random NON-constant blocks with the encoder's own
    writer, decode it, and compare bit-exactly against an independently
    computed IDCT of the dequantized coefficients."""
    import struct

    import numpy as np

    from aqueduct_core_spark.functions import multimodal as M

    C = M._dct_matrix()
    rng = np.random.RandomState(7)
    blocks = [rng.randint(0, 256, (8, 8)).astype(float) for _ in range(5)]
    quant = lambda b: np.round(C @ (b - 128.0) @ C.T).astype(np.int64)  # noqa: E731
    w = M._BitWriter()
    dc_huf = M._huff_codes(M._DC_BITS, M._DC_VALS)
    ac_huf = M._huff_codes(M._AC_BITS, M._AC_VALS)
    prev = 0
    for b in blocks:
        zz = quant(b).reshape(64)[M._ZIGZAG]
        diff = int(zz[0]) - prev
        prev = int(zz[0])
        s = M._category(diff)
        c, l = dc_huf[s]
        w.put(c, l)
        if s:
            w.put(diff if diff > 0 else diff + (1 << s) - 1, s)
        run = 0
        for k in range(1, 64):
            a = int(zz[k])
            if a == 0:
                run += 1
                continue
            while run > 15:
                zc, zl = ac_huf[0xF0]
                w.put(zc, zl)
                run -= 16
            s = M._category(a)
            cc, cl = ac_huf[(run << 4) | s]
            w.put(cc, cl)
            w.put(a if a > 0 else a + (1 << s) - 1, s)
            run = 0
        if run:
            ec, el = ac_huf[0x00]
            w.put(ec, el)

    def seg(m, body):
        return bytes([0xFF, m]) + struct.pack(">H", len(body) + 2) + body

    jp = (
        b"\xff\xd8"
        + seg(0xDB, b"\x00" + bytes([1] * 64))
        + seg(0xC0, struct.pack(">BHHB", 8, 8, 40, 1) + b"\x01\x11\x00")
        + seg(0xC4, b"\x00" + bytes(M._DC_BITS) + bytes(M._DC_VALS))
        + seg(0xC4, b"\x10" + bytes(M._AC_BITS) + bytes(M._AC_VALS))
        + seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
        + w.flush()
        + b"\xff\xd9"
    )
    got = M.decode_jpeg(jp)["pixels"]
    exp = np.hstack(
        [
            np.clip(np.round(C.T @ quant(b).astype(float) @ C + 128.0), 0, 255).astype(np.uint8)
            for b in blocks
        ]
    )
    assert (got == exp).all()


def test_jpeg_decode_summary_matches_source(spark):
    """The multimodal_decode_jpeg oracle contract locally: decoded-block md5
    == md5 of the source text bytes through the full Spark mapInPandas path,
    and the JPEG container feeds the real image-feature extractor."""
    import hashlib

    from aqueduct_core_spark.functions.multimodal import (
        decode_real_summary,
        docs_to_media,
        extract_features,
    )

    rows = [(0, "hello world"), (1, "caffé"), (2, "x" * 300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    media = docs_to_media(docs, "jpeg")
    out = {r["media_id"]: r for r in decode_real_summary(media).collect()}
    for did, text in rows:
        b = text.encode("utf-8")
        r = out[did]
        assert r["kind"] == "image"
        assert r["n_units"] == len(b)
        assert r["rate"] == 8 * len(b) and r["duration_ms"] == 8
        assert r["content_md5"] == hashlib.md5(b).hexdigest()
    feats = {r["media_id"]: r for r in extract_features(media, dim=8, use_real=True).collect()}
    # width feature = 8 * byte length; mean channel = mean byte value
    assert feats[2]["features"][0] == 8 * 300
    assert abs(feats[2]["features"][2] - ord("x")) < 1e-6


def test_jpeg_color_dri_roundtrip_exact():
    """3-component YCbCr 4:4:4 + restart intervals: interleaved MCU decode
    with three diverging DC predictor chains, RSTn sequence checking and
    per-restart predictor reset — exactly invertible (Y plane == source
    bytes, Cb/Cr == their fixed derivations), across restart intervals that
    do and don't divide the MCU count. Subsampled chroma still refuses."""
    import numpy as np

    from aqueduct_core_spark.functions.multimodal import (
        _color_planes_of,
        decode_jpeg,
        jpeg_bytes,
        jpeg_color_bytes,
        jpeg_progressive_bytes,
    )

    rng = np.random.RandomState(11)
    for n, ri in [(1, None), (5, 1), (8, 2), (17, 4), (33, 7), (40, 8)]:
        data = bytes(rng.randint(0, 256, n, dtype=np.uint8).tolist())
        # grayscale with DRI
        g = decode_jpeg(jpeg_bytes(data, restart_interval=ri))
        assert g["ncomp"] == 1 and g["pixels"][0, ::8].tobytes() == data
        # color with DRI
        c = decode_jpeg(jpeg_color_bytes(data, restart_interval=ri))
        assert c["ncomp"] == 3 and c["pixels"].shape == (8, 8 * n, 3)
        exp = np.array([_color_planes_of(v) for v in data], dtype=np.uint8)
        for ci in range(3):
            plane = c["pixels"][..., ci]
            assert (plane[0, ::8] == exp[:, ci]).all(), (n, ri, ci)
            # whole blocks constant, not just the sampled corner
            assert all(
                (plane[:, 8 * i : 8 * i + 8] == exp[i, ci]).all() for i in range(n)
            )
    # the same refusals hold for a baseline (SOF0) and a progressive (SOF2)
    # color stream
    for sof, make in (
        (0xC0, lambda data, ri=None: jpeg_color_bytes(data, restart_interval=ri)),
        (0xC2, lambda data, ri=None: jpeg_progressive_bytes(data, restart_interval=ri, ncomp=3)),
    ):
        # a corrupted restart sequence refuses instead of silently de-syncing
        payload = bytearray(make(bytes(range(16)), 4))
        i = payload.find(b"\xff\xd0", 2)
        assert i > 0
        payload[i + 1] = 0xD3  # out-of-sequence RSTn
        with pytest.raises(ValueError, match="restart"):
            decode_jpeg(bytes(payload))
        # spec-violating sampling still refuses loudly: >10 blocks per MCU
        # (B.2.3) and non-integer h/v ratios (box upsample would mis-decode)
        pc = bytearray(make(b"abc"))
        j = pc.find(bytes([0xFF, sof]))
        pc[j + 2 + 2 + 6 + 1] = 0x33  # Y at 3x3 -> 9+1+1 = 11 blocks/MCU
        with pytest.raises(ValueError, match="blocks per MCU"):
            decode_jpeg(bytes(pc))
        pc[j + 2 + 2 + 6 + 1] = 0x31  # Y 3x1 vs Cb 2x1: 3 % 2 != 0
        pc[j + 2 + 2 + 9 + 1] = 0x21
        with pytest.raises(ValueError, match="non-integer"):
            decode_jpeg(bytes(pc))
    # a table the frame or scan names but no DQT/DHT defined, and a SOF body
    # too short for its header, refuse with ValueError too
    good = jpeg_bytes(b"ab")

    def segment(marker, tc=None):
        """(start, end) of the first `marker` segment (a DHT: of class tc)."""
        i = -1
        while True:
            i = good.index(bytes([0xFF, marker]), i + 1)
            if tc is None or good[i + 4] >> 4 == tc:
                return i, i + 2 + int.from_bytes(good[i + 2 : i + 4], "big")

    for cut, match in ((segment(0xDB), "undefined table 0"),
                       (segment(0xC4, tc=0), r"undefined table \(0, 0\)")):
        with pytest.raises(ValueError, match=match):
            decode_jpeg(good[: cut[0]] + good[cut[1] :])
    s, e = segment(0xC0)
    with pytest.raises(ValueError, match="truncated SOF"):
        decode_jpeg(good[:s] + b"\xff\xc0\x00\x07" + good[s + 4 : s + 9] + good[e:])


def test_jpeg_color_decode_summary_matches_source(spark):
    """The multimodal_decode_jpeg_color oracle contract locally: a color +
    restart-interval stream still md5-round-trips the source text through
    the Spark mapInPandas path, and feeds the real feature extractor."""
    import hashlib

    from aqueduct_core_spark.functions.multimodal import (
        decode_real_summary,
        docs_to_media,
        extract_features,
    )

    rows = [(0, "hello world"), (1, "caffé"), (2, "x" * 300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    media = docs_to_media(docs, "jpeg_color")
    out = {r["media_id"]: r for r in decode_real_summary(media).collect()}
    for did, text in rows:
        b = text.encode("utf-8")
        r = out[did]
        assert r["n_units"] == len(b)
        assert r["rate"] == 8 * len(b) and r["duration_ms"] == 8
        assert r["content_md5"] == hashlib.md5(b).hexdigest()
    feats = {
        r["media_id"]: r
        for r in extract_features(media, dim=8, use_real=True).collect()
    }
    assert feats[2]["features"][0] == 8 * 300  # width from the color frame


def test_jpeg420_subsampled_roundtrip_exact():
    """YCbCr 4:2:0 (the camera/web-encoder layout): six-block MCU geometry
    (four DISTINCT luma blocks in spec raster order + quarter-res chroma),
    MCU-counted restart intervals, box chroma upsample — exactly invertible
    at every probed position, across restart intervals that do and don't
    divide the MCU count."""
    import numpy as np

    from aqueduct_core_spark.functions.multimodal import (
        _color_planes_of,
        _y_quad_of,
        decode_jpeg,
        jpeg420_bytes,
    )

    rng = np.random.RandomState(13)
    for n, ri in [(1, None), (5, 1), (8, 2), (17, 4), (33, 7), (40, 8)]:
        data = bytes(rng.randint(0, 256, n, dtype=np.uint8).tolist())
        img = decode_jpeg(jpeg420_bytes(data, restart_interval=ri))
        assert img["ncomp"] == 3 and img["sampling"] == [(2, 2), (1, 1), (1, 1)]
        assert img["mcu_w"] == 16 and img["pixels"].shape == (16, 16 * n, 3)
        Y = img["pixels"][..., 0]
        assert Y[0, ::16].tobytes() == data, (n, ri)
        for i, v in enumerate(data):
            q = _y_quad_of(v)
            _, cb, cr = _color_planes_of(v)
            x = 16 * i
            # each luma block constant at its own derivation — a wrong
            # intra-MCU data-unit walk lands the wrong value here
            assert (Y[:8, x : x + 8] == q[0]).all()
            assert (Y[:8, x + 8 : x + 16] == q[1]).all()
            assert (Y[8:, x : x + 8] == q[2]).all()
            assert (Y[8:, x + 8 : x + 16] == q[3]).all()
            # chroma decoded at quarter res, upsampled across the whole MCU
            assert (img["pixels"][:, x : x + 16, 1] == cb).all()
            assert (img["pixels"][:, x : x + 16, 2] == cr).all()
    # an out-of-sequence RSTn still refuses under the MCU-counted geometry
    payload = bytearray(jpeg420_bytes(bytes(range(16)), restart_interval=4))
    i = payload.find(b"\xff\xd0", 2)
    assert i > 0
    payload[i + 1] = 0xD5
    with pytest.raises(ValueError, match="restart"):
        decode_jpeg(bytes(payload))


def test_jpeg422_handbuilt_stream_decodes():
    """4:2:2 (Y 2x1): a hand-assembled stream through the library's own
    stream writer decodes with the right MCU geometry — two luma blocks side
    by side per MCU, chroma upsampled horizontally only."""
    import numpy as np

    from aqueduct_core_spark.functions.multimodal import _dc_blocks, _jpeg_stream, decode_jpeg

    mcus = [(10, 200, 30, 240), (90, 60, 130, 20)]  # (y0, y1, cb, cr) per MCU
    cols = np.array(mcus, dtype=np.int64).T  # (4, n_mcus): y0, y1, cb, cr rows
    luma = np.stack(cols[:2], axis=-1).reshape(1, -1)  # blocks y0 y1 per MCU
    blocks = [_dc_blocks(luma), _dc_blocks(cols[2:3]), _dc_blocks(cols[3:4])]
    jp = _jpeg_stream(blocks, 32, 8, [(2, 1), (1, 1), (1, 1)])
    img = decode_jpeg(jp)
    assert img["sampling"] == [(2, 1), (1, 1), (1, 1)] and img["mcu_w"] == 16
    assert img["pixels"].shape == (8, 32, 3)
    for i, (y0, y1, cb, cr) in enumerate(mcus):
        x = 16 * i
        assert (img["pixels"][:, x : x + 8, 0] == y0).all()
        assert (img["pixels"][:, x + 8 : x + 16, 0] == y1).all()
        assert (img["pixels"][:, x : x + 16, 1] == cb).all()
        assert (img["pixels"][:, x : x + 16, 2] == cr).all()


def test_jpeg420_decode_summary_matches_source(spark):
    """The multimodal_decode_jpeg420 oracle contract locally: a subsampled +
    restart-interval stream md5-round-trips the source text through the
    Spark mapInPandas path at MCU stride (16), and feeds the real feature
    extractor with the 4:2:0 frame geometry."""
    import hashlib

    from aqueduct_core_spark.functions.multimodal import (
        decode_real_summary,
        docs_to_media,
        extract_features,
    )

    rows = [(0, "hello world"), (1, "caffé"), (2, "x" * 300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    media = docs_to_media(docs, "jpeg420")
    out = {r["media_id"]: r for r in decode_real_summary(media).collect()}
    for did, text in rows:
        b = text.encode("utf-8")
        r = out[did]
        assert r["n_units"] == len(b)
        assert r["rate"] == 16 * len(b) and r["duration_ms"] == 16
        assert r["content_md5"] == hashlib.md5(b).hexdigest()
    feats = {
        r["media_id"]: r
        for r in extract_features(media, dim=8, use_real=True).collect()
    }
    assert feats[2]["features"][0] == 16 * 300  # width from the 4:2:0 frame


def test_jpeg_progressive_roundtrip_exact():
    """Progressive (SOF2) constant-block streams: DC successive
    approximation (first scan at Al=1 + refinement bit plane) and pure-
    EOBRUN AC scans round-trip bit-exactly, grayscale and interleaved-DC
    color, across restart intervals."""
    import numpy as np

    from aqueduct_core_spark.functions.multimodal import (
        _color_planes_of,
        decode_jpeg,
        jpeg_progressive_bytes,
    )

    rng = np.random.RandomState(17)
    for n, ri in [(1, None), (7, 1), (16, 3), (33, 5)]:
        data = bytes(rng.randint(0, 256, n, dtype=np.uint8).tolist())
        for nc in (1, 3):
            img = decode_jpeg(jpeg_progressive_bytes(data, restart_interval=ri, ncomp=nc))
            assert img.get("progressive") is True and img["ncomp"] == nc
            px = img["pixels"]
            Y = px[..., 0] if nc == 3 else px
            assert Y[0, ::8].tobytes() == data, (n, ri, nc)
            if nc == 3:
                exp = np.array([_color_planes_of(v) for v in data], dtype=np.uint8)
                for ci in (1, 2):
                    assert (px[0, ::8, ci] == exp[:, ci]).all(), (n, ri, ci)


def test_jpeg_progressive_rejects_illegal_streams():
    """Each mutation of a valid color SOF2 stream breaks one scan-header
    (B.2.3) or frame rule and must raise instead of mis-decoding."""
    import struct

    from aqueduct_core_spark.functions.multimodal import decode_jpeg, jpeg_progressive_bytes

    good = jpeg_progressive_bytes(b"abc", ncomp=3)
    assert decode_jpeg(good)["progressive"] is True

    def segment(marker, nth=0):
        """(start, end) of the nth marker segment of `good` with this marker."""
        i = -1
        for _ in range(nth + 1):
            i = good.index(bytes([0xFF, marker]), i + 1)
        return i, i + 2 + struct.unpack(">H", good[i + 2 : i + 4])[0]

    def refused(stream, match):
        with pytest.raises(ValueError, match=match):
            decode_jpeg(bytes(stream))

    # scan 0 is the interleaved DC first scan: ns, 3 x (id, tables), Ss, Se, AhAl
    s0, e0 = segment(0xDA)
    bad = bytearray(good)
    bad[e0 - 2] = 5  # DC band [0,5]
    refused(bad, "B.2.3")
    bad = bytearray(good)
    bad[s0 + 5] = 9  # component id 9: no such frame component
    refused(bad, "not in frame")
    # scan 2 is component 1's AC first scan; make it name component 2 too
    s2, e2 = segment(0xDA, 2)
    sos = bytes([2, 1, 0x00, 2, 0x00]) + good[e2 - 3 : e2]
    sos = b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    refused(good[:s2] + sos + good[e2:], "non-interleaved")
    # the frame header moved behind every scan: SOS comes before SOF2
    fs, fe = segment(0xC2)
    refused(good[:fs] + good[fe:-2] + good[fs:fe] + good[-2:], "SOS before|scan components")
    # a SOF0 copy of the frame header right after the SOF2 one
    refused(good[:fe] + b"\xff\xc0" + good[fs + 2 : fe] + good[fe:], "mixed frame markers")


def test_jpeg_progressive_successive_approximation_exact():
    """The full SA machinery against random NON-constant blocks: split
    spectral bands, a three-level refinement chain (Al 2 -> 1 -> 0) for DC
    and AC, EOB-run accounting with buffered correction bits, ZRL-in-
    refinement, restart intervals — decoded pixels must equal an
    independently computed IDCT of the dequantized coefficients for every
    block."""
    import numpy as np

    from aqueduct_core_spark.functions.multimodal import (
        _ZIGZAG,
        _dct_matrix,
        _jpeg_stream,
        decode_jpeg,
    )

    rng = np.random.RandomState(29)
    C = _dct_matrix()
    inv = np.argsort(_ZIGZAG)
    scans = [
        ("dc", [0], 0, 2), ("dc", [0], 2, 1), ("dc", [0], 1, 0),
        ("ac", 0, 1, 20, 0, 2), ("ac", 0, 21, 63, 0, 2),
        ("ac", 0, 1, 20, 2, 1), ("ac", 0, 21, 63, 2, 1),
        ("ac", 0, 1, 20, 1, 0), ("ac", 0, 21, 63, 1, 0),
    ]
    for trial in range(12):
        nb = rng.randint(1, 28)
        blocks = np.zeros((1, nb, 64), dtype=np.int64)
        for i in range(nb):
            nz = rng.randint(0, 14)
            idx = rng.choice(np.arange(1, 64), size=nz, replace=False)
            blocks[0, i, idx] = rng.randint(-120, 121, size=nz)
            blocks[0, i, 0] = rng.randint(-1000, 1001)
        ri = [None, 1, 3, 7][trial % 4]
        enc = _jpeg_stream([blocks], 8 * nb, 8, [(1, 1)], scans, restart_interval=ri)
        img = decode_jpeg(enc)
        for i in range(nb):
            coef = blocks[0, i][inv].reshape(8, 8).astype(float)
            exp = np.clip(np.round(C.T @ coef @ C + 128.0), 0, 255).astype(np.uint8)
            assert (img["pixels"][:, 8 * i : 8 * i + 8] == exp).all(), (trial, i, ri)
    # dense blocks: heavy correction-bit traffic through a 4-level chain
    blocks = rng.randint(-40, 41, size=(1, 6, 64)).astype(np.int64)
    blocks[0, :, 0] = rng.randint(-1000, 1001, size=6)
    dense_scans = [
        ("dc", [0], 0, 1), ("dc", [0], 1, 0),
        ("ac", 0, 1, 63, 0, 3), ("ac", 0, 1, 63, 3, 2),
        ("ac", 0, 1, 63, 2, 1), ("ac", 0, 1, 63, 1, 0),
    ]
    enc = _jpeg_stream([blocks], 48, 8, [(1, 1)], dense_scans, restart_interval=2)
    img = decode_jpeg(enc)
    for i in range(6):
        coef = blocks[0, i][inv].reshape(8, 8).astype(float)
        exp = np.clip(np.round(C.T @ coef @ C + 128.0), 0, 255).astype(np.uint8)
        assert (img["pixels"][:, 8 * i : 8 * i + 8] == exp).all()


def test_jpeg_progressive_subsampled_roundtrip_exact():
    """Progressive x subsampling: a 4:2:0 SOF2 stream (interleaved six-block
    DC MCUs at mixed sampling factors + per-component non-interleaved AC
    scans on each component's own block grid) decodes exactly, across
    restart intervals."""
    import numpy as np

    from aqueduct_core_spark.functions.multimodal import (
        _color_planes_of,
        _jpeg_stream,
        _y_quad_of,
        decode_jpeg,
    )

    data = bytes(range(0, 256, 7)) + b"pq"
    n = len(data)
    Y = np.zeros((2, 2 * n, 64), dtype=np.int64)
    Cb = np.zeros((1, n, 64), dtype=np.int64)
    Cr = np.zeros((1, n, 64), dtype=np.int64)
    for i, v in enumerate(data):
        q4 = _y_quad_of(v)
        _, cb, cr = _color_planes_of(v)
        Y[0, 2 * i, 0], Y[0, 2 * i + 1, 0] = 8 * (q4[0] - 128), 8 * (q4[1] - 128)
        Y[1, 2 * i, 0], Y[1, 2 * i + 1, 0] = 8 * (q4[2] - 128), 8 * (q4[3] - 128)
        Cb[0, i, 0], Cr[0, i, 0] = 8 * (cb - 128), 8 * (cr - 128)
    scans = [
        ("dc", [0, 1, 2], 0, 1), ("dc", [0, 1, 2], 1, 0),
        ("ac", 0, 1, 63, 0, 1), ("ac", 1, 1, 63, 0, 1), ("ac", 2, 1, 63, 0, 1),
        ("ac", 0, 1, 63, 1, 0), ("ac", 1, 1, 63, 1, 0), ("ac", 2, 1, 63, 1, 0),
    ]
    for ri in (None, 2, 5):
        enc = _jpeg_stream(
            [Y, Cb, Cr], 16 * n, 16, [(2, 2), (1, 1), (1, 1)], scans, restart_interval=ri
        )
        img = decode_jpeg(enc)
        assert img["progressive"] and img["sampling"] == [(2, 2), (1, 1), (1, 1)]
        px = img["pixels"]
        assert px.shape == (16, 16 * n, 3) and img["mcu_w"] == 16
        Yp = px[..., 0]
        assert bytes(Yp[0, ::16]) == data, ri
        for i, v in enumerate(data):
            q4 = _y_quad_of(v)
            _, cb, cr = _color_planes_of(v)
            x = 16 * i
            assert (Yp[:8, x : x + 8] == q4[0]).all() and (Yp[:8, x + 8 : x + 16] == q4[1]).all()
            assert (Yp[8:, x : x + 8] == q4[2]).all() and (Yp[8:, x + 8 : x + 16] == q4[3]).all()
            assert (px[:, x : x + 16, 1] == cb).all() and (px[:, x : x + 16, 2] == cr).all()


def test_jpeg_progressive_decode_summary_matches_source(spark):
    """The multimodal_decode_jpeg_progressive oracle contract locally: a
    six-scan SOF2 stream md5-round-trips the source text through the Spark
    mapInPandas path with the grayscale frame geometry."""
    import hashlib

    from aqueduct_core_spark.functions.multimodal import (
        decode_real_summary,
        docs_to_media,
    )

    rows = [(0, "hello world"), (1, "caffé"), (2, "x" * 300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    media = docs_to_media(docs, "jpeg_progressive")
    out = {r["media_id"]: r for r in decode_real_summary(media).collect()}
    for did, text in rows:
        b = text.encode("utf-8")
        r = out[did]
        assert r["n_units"] == len(b)
        assert r["rate"] == 8 * len(b) and r["duration_ms"] == 8
        assert r["content_md5"] == hashlib.md5(b).hexdigest()


def test_png_codec_roundtrip_exact():
    """Pure-stdlib PNG codec: random images across all supported color types
    (grayscale / truecolor / indexed), both interlace methods and awkward
    geometries (sizes that leave empty or single-pixel Adam7 passes)
    round-trip bit-exactly — and the encoder genuinely cycles every scanline
    predictor, so the decoder's five unfilter paths are all on the hook."""
    import zlib

    import numpy as np

    from aqueduct_core_spark.functions.multimodal import decode_png, png_encode

    rng = np.random.default_rng(11)
    for interlace in (0, 1):
        for ctype in (0, 2, 3):
            for h, w in [(1, 1), (5, 37), (9, 17), (3, 200), (16, 16), (7, 1), (2, 9)]:
                shape = (h, w, 3) if ctype == 2 else (h, w)
                img = rng.integers(0, 256, shape, dtype=np.uint8)
                payload = png_encode(img, color_type=ctype, interlace=interlace)
                d = decode_png(payload)
                assert (d["width"], d["height"]) == (w, h)
                assert d["interlace"] == interlace and d["color_type"] == ctype
                want = img if ctype == 2 else np.repeat(img[:, :, None], 3, axis=2)
                got = d["pixels"] if ctype != 0 else np.repeat(d["pixels"][:, :, None], 3, axis=2)
                assert np.array_equal(got, want)
    # filter coverage: a >=5-row sequential image carries one row per type
    img = rng.integers(0, 256, (10, 23), dtype=np.uint8)
    payload = png_encode(img, color_type=0)
    idat_pos = payload.index(b"IDAT")
    (ln,) = __import__("struct").unpack(">I", payload[idat_pos - 4 : idat_pos])
    raw = zlib.decompress(payload[idat_pos + 4 : idat_pos + 4 + ln])
    assert {raw[r * 24] for r in range(10)} == {0, 1, 2, 3, 4}


def test_png_adam7_is_pure_reordering():
    """Interlacing must not change a single pixel: the Adam7 stream decodes
    to exactly what the sequential stream of the same image decodes to, even
    though every byte of the filtered representation differs."""
    import numpy as np

    from aqueduct_core_spark.functions.multimodal import decode_png, png_encode

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (21, 34, 3), dtype=np.uint8)
    seq = decode_png(png_encode(img, color_type=2, interlace=0))["pixels"]
    lace = decode_png(png_encode(img, color_type=2, interlace=1))["pixels"]
    assert np.array_equal(seq, lace) and np.array_equal(seq, img)


def test_png_rejects_malformed():
    """Loud-refusal contract: corrupted CRC, unknown critical chunks,
    truncated pixel data, unsupported header shapes and a palette-less
    indexed image all raise instead of mis-decoding."""
    import struct

    import numpy as np
    import pytest

    from aqueduct_core_spark.functions.multimodal import (
        _png_chunk,
        _PNG_SIG,
        decode_png,
        png_encode,
    )

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    good = png_encode(img, color_type=0)
    # flip one bit inside the IDAT body -> chunk CRC must catch it
    bad = bytearray(good)
    bad[good.index(b"IDAT") + 6] ^= 0x01
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    # unknown CRITICAL chunk (uppercase first letter) refuses; ancillary passes
    ihdr_end = good.index(b"IHDR") + 4 + 13 + 4
    critical = good[:ihdr_end] + _png_chunk(b"FAKE", b"x") + good[ihdr_end:]
    with pytest.raises(ValueError, match="critical"):
        decode_png(critical)
    ancillary = good[:ihdr_end] + _png_chunk(b"tEXt", b"k\x00v") + good[ihdr_end:]
    assert decode_png(ancillary)["width"] == 8
    # unsupported bit depth / color type in an otherwise-valid header
    for depth, ctype in ((16, 0), (8, 6), (1, 0)):
        hdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, depth, ctype, 0, 0, 0))
        stream = _PNG_SIG + hdr + good[ihdr_end:]
        with pytest.raises(ValueError, match="unsupported PNG shape"):
            decode_png(stream)
    # indexed image whose PLTE was stripped
    pimg = png_encode(img, color_type=3)
    plte_pos = pimg.index(b"PLTE")
    (plen,) = struct.unpack(">I", pimg[plte_pos - 4 : plte_pos])
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(pimg[: plte_pos - 4] + pimg[plte_pos + 8 + plen :])
    # truncated IDAT payload (drop the IEND)
    with pytest.raises(ValueError, match="truncated"):
        decode_png(good[: good.index(b"IEND") - 4])


def test_png_decode_summary_matches_source(spark):
    """The multimodal_decode_png / _adam7 oracle contracts locally: all three
    rotating color types and both interlace modes md5-round-trip the text
    through the Spark mapInPandas path, and PNG payloads feed the real
    image-feature extractor."""
    import hashlib

    from aqueduct_core_spark.functions.multimodal import (
        decode_real_summary,
        docs_to_media,
        extract_features,
    )

    rows = [(0, "hello png"), (1, "caffé"), (2, "x" * 300)]  # gray, rgb, palette
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for fixture in ("png", "png_adam7"):
        media = docs_to_media(docs, fixture)
        out = {r["media_id"]: r for r in decode_real_summary(media).collect()}
        for did, text in rows:
            b = text.encode("utf-8")
            r = out[did]
            assert r["kind"] == "image"
            assert r["n_units"] == len(b) and r["rate"] == len(b)
            assert r["duration_ms"] == 5
            assert r["content_md5"] == hashlib.md5(b * 5).hexdigest()
    feats = {r["media_id"]: r for r in extract_features(media, dim=8, use_real=True).collect()}
    assert feats[2]["features"][0] == 300  # width = byte count
    assert abs(feats[2]["features"][2] - ord("x")) < 1e-6  # mean R = the byte


def test_gif_codec_roundtrip_exact():
    """Pure-stdlib GIF: sequential and interlaced frames, LZW width growth
    (long high-entropy input pushes 9->12 bits) and the 4096-entry table
    reset all round-trip bit-exactly through encode -> decode. The width
    grows once code 2**w - 1 is assigned (GIF89a Appendix F), END included."""
    import numpy as np

    from aqueduct_core_spark.functions.multimodal import _gif_lzw_encode, decode_gif, gif_bytes

    # 256 literals: CLEAR + 255 codes at 9 bits; the 255th assigns code 511,
    # so the last literal and END are 10 bits wide and END starts at bit 2314
    stream = int.from_bytes(_gif_lzw_encode(bytes(range(256)), 8), "little")
    assert (stream >> 2314) & 0x3FF == 257

    rng = np.random.default_rng(17)
    cases = [
        b"hello gif",
        bytes(range(256)),
        rng.integers(0, 256, 5000, dtype=np.uint8).tobytes(),  # forces 12-bit + reset
        b"a",  # single pixel per row
        b"ab" * 600,  # long repetitive run (deep LZW chains)
        # documents doc 116 at sf0.001: a data code lands exactly on the
        # width boundary just before END
        b"key a table query a window filter batch filter filter part spark agg batch"
        b" a sort small column scan value batch hash row hash batch line query sort",
    ]
    for gray in cases:
        for interlace_alt, n_frames in [(False, 1), (True, 2), (True, 3)]:
            payload = gif_bytes(gray, height=4, n_frames=n_frames, interlace_alt=interlace_alt)
            d = decode_gif(payload)
            assert (d["width"], d["height"], d["n_frames"]) == (len(gray), 4, n_frames)
            want = np.tile(np.frombuffer(gray, np.uint8), (4, 1))
            for k in range(n_frames):
                assert np.array_equal(d["frames"][k], want), (len(gray), n_frames, k)


def test_gif_interlace_is_pure_reordering():
    """An interlaced frame must decode to exactly the sequential frame's
    pixels even though the wire bytes differ (4-pass row shuffle)."""
    import numpy as np

    from aqueduct_core_spark.functions.multimodal import decode_gif, gif_bytes

    gray = bytes(range(64)) * 3
    seq = decode_gif(gif_bytes(gray, height=11, n_frames=1))["frames"][0]
    # interlace_alt interlaces ODD frames: frame 1 of a 2-frame stream
    lace = decode_gif(gif_bytes(gray, height=11, n_frames=2, interlace_alt=True))
    assert np.array_equal(lace["frames"][1], seq)
    assert lace["n_frames"] == 2


def test_gif_compositing_transparency_and_disposal():
    """Hand-built GIF exercising what the builder does not: a partial-canvas
    second frame at an offset, a transparent index that must preserve the
    underlying canvas, and disposal 2 (restore background) before frame 3."""
    import struct

    import numpy as np

    from aqueduct_core_spark.functions.multimodal import (
        _gif_lzw_encode,
        _gif_subblocks,
        decode_gif,
    )

    def frame(left, top, w, h, pixels, disposal, transparent=None):
        flags = (disposal & 7) << 2 | (1 if transparent is not None else 0)
        gce = b"\x21\xf9" + _gif_subblocks(
            struct.pack("<BHB", flags, 0, transparent or 0)
        )
        desc = b"\x2c" + struct.pack("<HHHHB", left, top, w, h, 0)
        return gce + desc + bytes([8]) + _gif_subblocks(_gif_lzw_encode(bytes(pixels), 8))

    head = b"GIF89a" + struct.pack("<HHBBB", 4, 2, 0xF7, 9, 0)
    head += b"".join(bytes((i, i, i)) for i in range(256))
    payload = (
        head
        + frame(0, 0, 4, 2, [1, 2, 3, 4, 5, 6, 7, 8], disposal=1)
        # 1x1 at (2,1): index 0 is transparent -> canvas pixel 7 must survive;
        # disposal 2 then restores background (9) in that rect
        + frame(2, 1, 1, 1, [0], disposal=2, transparent=0)
        + frame(0, 0, 1, 1, [50], disposal=0)
        + b"\x3b"
    )
    d = decode_gif(payload)
    assert d["n_frames"] == 3
    assert np.array_equal(d["frames"][0], [[1, 2, 3, 4], [5, 6, 7, 8]])
    assert np.array_equal(d["frames"][1], [[1, 2, 3, 4], [5, 6, 7, 8]])  # transparent
    # frame 3: disposal-2 put bg (9) at (1,2), then drew 50 at (0,0)
    assert np.array_equal(d["frames"][2], [[50, 2, 3, 4], [5, 6, 9, 8]])


def test_gif_rejects_malformed():
    import pytest

    from aqueduct_core_spark.functions.multimodal import decode_gif, gif_bytes

    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOTGIF" + b"\x00" * 20)
    good = bytearray(gif_bytes(b"abcd", height=2))
    bad = bytes(good[:40])  # truncated mid color table / LZW
    with pytest.raises((ValueError, IndexError, __import__("struct").error)):
        decode_gif(bad)


def test_gif_decode_summary_and_frame_sample(spark):
    """The multimodal_decode_gif oracle contract locally: every frame's
    composited canvas md5-round-trips the text (md5(text*(h*n_frames))),
    GIF payloads feed the real video-feature extractor, and frame_sample
    fans one animation out to its every-n-th decoded frames."""
    import hashlib

    from pyspark.sql import functions as F

    from aqueduct_core_spark.functions.multimodal import (
        decode_real_summary,
        docs_to_media,
        extract_features,
        frame_sample,
    )

    rows = [(0, "hello gif"), (1, "caffé"), (2, "y" * 300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    media = docs_to_media(docs, "gif")
    out = {r["media_id"]: r for r in decode_real_summary(media).collect()}
    for did, text in rows:
        b = text.encode("utf-8")
        r = out[did]
        assert r["kind"] == "video"
        assert r["n_units"] == len(b) and r["rate"] == 3 and r["duration_ms"] == 4
        assert r["content_md5"] == hashlib.md5(b * 12).hexdigest()

    feats = {r["media_id"]: r for r in extract_features(media, dim=8, use_real=True).collect()}
    assert feats[2]["features"][:3] == [300.0, 4.0, 3.0]  # w, h, n_frames
    assert abs(feats[2]["features"][3] - ord("y")) < 1e-6

    frames = frame_sample(media, "gif", every_n=2).withColumn(
        "frame_md5", F.md5(F.col("frame_bytes"))
    )
    got = {(r["media_id"], r["frame_idx"]): r["frame_md5"] for r in frames.collect()}
    assert set(got) == {(d, f) for d, _ in rows for f in (0, 2)}
    for did, text in rows:
        b = text.encode("utf-8")
        for f in (0, 2):
            assert got[(did, f)] == hashlib.md5(b * 4).hexdigest()


def test_g711_tables_match_ccitt_reference():
    """Expansion tables vs known CCITT reference points and structure:
    mu-law 0xFF/0x7F are the +-0 pair, A-law min magnitude is +-8, both
    tables are sign-antisymmetric under the wire sign bit, and A-law is
    injective (256 distinct linear values) while mu-law collides only at 0."""
    import numpy as np

    from aqueduct_core_spark.functions.multimodal import _ALAW_EXPAND, _ULAW_EXPAND

    # mu-law reference points (CCITT ulaw2linear): 0xFF -> 0, 0x7F -> 0,
    # 0x80 -> -32124 (max negative), 0x00 -> +32124... sign convention:
    # inverted code's bit7 SET means negative, so raw 0x00 (inv 0xFF) is neg
    assert _ULAW_EXPAND[0xFF] == 0 and _ULAW_EXPAND[0x7F] == 0
    assert _ULAW_EXPAND[0x00] == -32124 and _ULAW_EXPAND[0x80] == 32124
    # A-law reference points (CCITT alaw2linear, sign bit SET = positive):
    # 0xD5 (wire) -> +8, 0x55 -> -8, 0xAA -> +32256? no: 0x2A^0x55=0x7F ->
    # seg 7 mant 15 -> max magnitude 0xF80<<6 = 32256, sign clear -> negative
    assert _ALAW_EXPAND[0xD5] == 8 and _ALAW_EXPAND[0x55] == -8
    assert _ALAW_EXPAND[0xAA] == 32256 and _ALAW_EXPAND[0x2A] == -32256
    assert len(set(_ALAW_EXPAND.tolist())) == 256
    assert len(set(_ULAW_EXPAND.tolist())) == 255  # only the 0 pair collides
    # antisymmetry: flipping the wire sign bit negates the value
    codes = np.arange(128)
    assert np.array_equal(_ULAW_EXPAND[codes], -_ULAW_EXPAND[codes | 0x80])
    assert np.array_equal(_ALAW_EXPAND[codes ^ 0x55 ^ 0x80 ^ 0x55], -_ALAW_EXPAND[codes])


def test_g711_roundtrip_and_quantization():
    """code -> linear -> code is the identity for all 256 A-law codes (and
    all mu-law codes modulo the +-0 collapse); arbitrary PCM quantizes to
    the nearest code's cell (|err| bounded by half the local step)."""
    import numpy as np

    from aqueduct_core_spark.functions.multimodal import (
        _ULAW_EXPAND,
        g711_compress,
        g711_expand,
    )

    all_codes = bytes(range(256))
    assert g711_compress(g711_expand(all_codes, "alaw"), "alaw") == all_codes
    ul = g711_compress(g711_expand(all_codes, "ulaw"), "ulaw")
    diff = [i for i in range(256) if ul[i] != i]
    assert all(_ULAW_EXPAND[i] == 0 for i in diff)  # only the zero pair moves
    # random PCM: expand(compress(x)) stays within the local quantizer cell
    rng = np.random.default_rng(23)
    pcm = rng.integers(-32000, 32001, 4096).astype(np.int16)
    for law in ("alaw", "ulaw"):
        deq = g711_expand(g711_compress(pcm, law), law)
        # A-law max step 1024 -> err <= 512; mu max step 1008+, allow spec cap
        assert np.abs(deq.astype(int) - pcm.astype(int)).max() <= 600


def test_g711_wav_decode_summary_matches_source(spark):
    """The multimodal_decode_g711 oracle contract locally: A-law WAVs built
    from text md5-round-trip through expand + re-compress, and G.711 payloads
    feed the real audio-feature extractor (decoded linear samples)."""
    import hashlib

    from aqueduct_core_spark.functions.multimodal import (
        decode_real_summary,
        decode_wav,
        docs_to_media,
        extract_features,
        wav_g711_bytes,
    )

    rows = [(0, "hello g711"), (1, "caffé"), (2, "z" * 300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    media = docs_to_media(docs, "g711")
    out = {r["media_id"]: r for r in decode_real_summary(media).collect()}
    for did, text in rows:
        b = text.encode("utf-8")
        r = out[did]
        assert r["kind"] == "audio"
        assert r["n_units"] == len(b) and r["rate"] == 8000
        assert r["content_md5"] == hashlib.md5(b).hexdigest()

    wav = decode_wav(wav_g711_bytes(b"\x00\xff\x55\xd5", law="alaw"))
    assert wav["codec"] == "alaw" and wav["samples"].dtype.name == "int16"
    feats = {r["media_id"]: r for r in extract_features(media, dim=6, use_real=True).collect()}
    assert feats[2]["features"][:4] == [8000.0, 1.0, 8.0, 300.0]
