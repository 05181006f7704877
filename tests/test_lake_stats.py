"""Manifest file statistics + stats-based file skipping.

The reference serves `WHERE msg_offset > ?` pages from a B-tree index
(pipe-storage-sqlite/.../SQLiteQueries.java offset index); the lake-scale
analog is skipping whole parquet files by footer min/max recorded in the
manifest (Iceberg's lower_bounds/upper_bounds). Soundness rule under test:
file skipping applies ONLY to fully-resolved snapshots — pruning a
merge-on-read delta pile by stats can drop the (ts,_lsn) winner that
suppresses a newer losing row and resurrect it.
"""

from __future__ import annotations

from aqueduct_core_spark.lake.merge import merge_change_batch, read_resolved
from aqueduct_core_spark.lake.table import LakeTable, bucket_expr, file_buckets
from aqueduct_core_spark.maintenance import compact_bucket_range, compact_table
from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA

from tests.util import ev, events_df, ts

N_BUCKETS = 8


def make_table(spark, path):
    return LakeTable.create(
        spark, path, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
        n_buckets=N_BUCKETS,
    )


def distinct_bucket_convs(spark, n=3):
    """First n candidate conv ids that hash to pairwise-distinct buckets."""
    cands = [f"conv-{i}" for i in range(64)]
    rows = (
        spark.createDataFrame([(c,) for c in cands], "conv_id string")
        .withColumn("b", bucket_expr("conv_id", N_BUCKETS))
        .collect()
    )
    picked, seen = [], set()
    for c in cands:
        b = next(r["b"] for r in rows if r["conv_id"] == c)
        if b not in seen:
            picked.append(c)
            seen.add(b)
        if len(picked) == n:
            return picked
    raise AssertionError("xxhash64 degenerate")


def test_manifest_stats_harvested(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"))
    events = [ev(i, conv=f"c{i % 5}", turn=i % 3, t=i) for i in range(1, 41)]
    merge_change_batch(t, events_df(spark, events), batch_id=0)
    files = t.current().files
    assert files
    total = 0
    for f in files:
        assert isinstance(f["rows"], int) and f["rows"] > 0
        st = f["stats"]
        lo, hi = st["_lsn"]
        assert 1 <= lo <= hi <= 40
        ts_lo, ts_hi = st["ts"]  # epoch microseconds
        assert ts_lo <= ts_hi
        total += f["rows"]
    assert total == t.read().count()


def test_cow_range_read_prunes_files(spark, tmp_path):
    """A fully compacted table skips files by range stats, for int and
    datetime bounds."""
    convs = distinct_bucket_convs(spark, 3)
    t = make_table(spark, str(tmp_path / "t"))
    for i, conv in enumerate(convs):
        lo = i * 100
        batch = [ev(lo + j, conv=conv, turn=j, t=lo + j) for j in range(1, 21)]
        merge_change_batch(t, events_df(spark, batch), batch_id=i)
    # fold the deltas: each bucket becomes one base file with its own range
    compact_table(t, tombstone_retention_ts=ts(0))

    ranges = {"_lsn": (201, 220)}
    full = read_resolved(t)
    pruned = read_resolved(t, ranges=ranges)
    expect = [tuple(r) for r in full.filter("_lsn >= 201 AND _lsn <= 220")
              .orderBy("conv_id", "turn_idx").collect()]
    got = [tuple(r) for r in pruned.orderBy("conv_id", "turn_idx").collect()]
    assert got == expect and len(got) == 20
    # the skip really happened: only the third batch's bucket file(s) opened
    assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())

    # datetime bounds prune through the epoch-micros stats encoding
    by_ts = read_resolved(t, ranges={"ts": (ts(201), ts(220))})
    assert by_ts.count() == 20
    assert 0 < len(by_ts.inputFiles()) < len(full.inputFiles())


def test_mor_delta_skip_disabled_prevents_resurrection(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"))
    # winner by (ts,_lsn): lsn=5 ts=100 BEATS lsn=10 ts=50
    merge_change_batch(t, events_df(spark, [ev(5, conv="c", turn=0, t=100)]), batch_id=0)
    merge_change_batch(
        t, events_df(spark, [ev(10, op="U", conv="c", turn=0, t=50)]), batch_id=1
    )
    # resolved view: the only winner has _lsn=5, so _lsn >= 8 matches NOTHING.
    resolved = read_resolved(t, ranges={"_lsn": (8, None)})
    assert resolved.count() == 0
    # both delta files were still opened — no file skip on a delta snapshot
    assert len(resolved.inputFiles()) == len(t.read().inputFiles())
    # counterfactual: a PHYSICAL stats skip on the raw read resurrects the loser
    raw_skip = t.read(prune_ranges={"_lsn": (8, None)})
    assert [r["_lsn"] for r in raw_skip.collect()] == [10]


def _bucket_of(spark, conv):
    return (
        spark.createDataFrame([(conv,)], "conv_id string")
        .withColumn("b", bucket_expr("conv_id", N_BUCKETS))
        .collect()[0]["b"]
    )


def _live_mor_with_clean_buckets(spark, tmp_path):
    """A live MOR table where bucket(A) holds delta files (with a
    resurrection trap: winner lsn=5 ts=100 suppresses loser lsn=10 ts=50)
    while buckets B and C are fully compacted base files with disjoint
    _lsn ranges (B: 100-119, C: 200-219)."""
    conv_a, conv_b, conv_c = distinct_bucket_convs(spark, 3)
    t = make_table(spark, str(tmp_path / "t"))
    b0 = [ev(5, conv=conv_a, turn=0, t=100)] + [
        ev(100 + j, conv=conv_b, turn=j, t=100 + j) for j in range(20)
    ]
    merge_change_batch(t, events_df(spark, b0), batch_id=0)
    b1 = [ev(10, op="U", conv=conv_a, turn=0, t=50)] + [
        ev(200 + j, conv=conv_c, turn=j, t=200 + j) for j in range(20)
    ]
    merge_change_batch(t, events_df(spark, b1), batch_id=1)
    compact_bucket_range(
        t,
        tombstone_retention_ts=ts(0),
        buckets=[_bucket_of(spark, conv_b), _bucket_of(spark, conv_c)],
    )
    snap = t.current()
    kinds = {b: set() for f in snap.files for b in file_buckets(f)}
    for f in snap.files:
        for b in file_buckets(f):
            kinds[b].add(f.get("kind", "base"))
    assert kinds[_bucket_of(spark, conv_a)] == {"delta"}
    assert kinds[_bucket_of(spark, conv_b)] == {"base"}
    assert kinds[_bucket_of(spark, conv_c)] == {"base"}
    return t, conv_a, conv_b, conv_c


def test_per_bucket_skip_on_live_mor(spark, tmp_path):
    """A delta in bucket A must not block file skipping in delta-free buckets
    B/C — and must not unlock skipping in A itself (both directions of the
    per-bucket boundary)."""
    t, conv_a, conv_b, conv_c = _live_mor_with_clean_buckets(spark, tmp_path)
    snap = t.current()
    paths_by_conv = {
        conv: {
            f["path"] for f in snap.files if _bucket_of(spark, conv) in file_buckets(f)
        }
        for conv in (conv_a, conv_b, conv_c)
    }

    # window matching only bucket B's range: C's base file is skipped, A's
    # delta files all open (exempt), result == full-filter semantics
    win = read_resolved(t, ranges={"_lsn": (100, 150)})
    full = read_resolved(t)
    expect = sorted(
        tuple(r) for r in full.filter("_lsn >= 100 AND _lsn <= 150").collect()
    )
    assert sorted(tuple(r) for r in win.collect()) == expect and len(expect) == 20
    # inputFiles() returns file: URIs; manifest paths are plain — compare by
    # substring containment
    opened = set(win.inputFiles())
    assert not any(q in p for p in opened for q in paths_by_conv[conv_c])
    assert all(any(q in p for p in opened) for q in paths_by_conv[conv_a])


def test_per_bucket_skip_no_resurrection_at_boundary(spark, tmp_path):
    """The resurrection counterfactual at the per-bucket boundary: a window
    that excludes bucket A's winner must not surface its suppressed loser,
    even while B/C files are being skipped by the same window."""
    t, conv_a, conv_b, conv_c = _live_mor_with_clean_buckets(spark, tmp_path)
    # _lsn >= 8 excludes A's winner (lsn=5); the loser (lsn=10) must stay
    # suppressed. B (100-119) and C (200-219) match fully.
    res = read_resolved(t, ranges={"_lsn": (8, None)})
    rows = res.collect()
    assert len(rows) == 40
    assert not any(r["conv_id"] == conv_a for r in rows)
    # and the skip is real: a window past every clean bucket's range opens
    # ONLY bucket A's (exempt) delta files
    snap = t.current()
    a_paths = {
        f["path"] for f in snap.files if _bucket_of(spark, conv_a) in file_buckets(f)
    }
    none_clean = read_resolved(t, ranges={"_lsn": (10**9, None)})
    assert none_clean.count() == 0
    opened = set(none_clean.inputFiles())
    assert all(any(q in p for q in a_paths) for p in opened)
    assert len(opened) == len(a_paths)


def test_compacted_mor_prunes_again(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"))
    for i in range(3):
        batch = [ev(i * 50 + j, conv=f"c{j % 4}", turn=j, t=i * 50 + j) for j in range(1, 11)]
        merge_change_batch(t, events_df(spark, batch), batch_id=i)
    compact_table(t, tombstone_retention_ts=ts(10_000_000), keep_snapshots=1)
    assert all(f.get("kind", "base") == "base" for f in t.current().files)
    # stats survived the compaction rewrite; an out-of-range window opens 0 files
    assert all(f["stats"] and f["rows"] for f in t.current().files)
    nothing = read_resolved(t, ranges={"_lsn": (10**9, None)})
    assert nothing.count() == 0 and len(nothing.inputFiles()) == 0
