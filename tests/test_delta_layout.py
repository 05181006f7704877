"""Merge-on-read delta layout: a batch writes one delta file per write task,
each holding several buckets; a fold carries the other buckets' rows of the
files it removes over into new delta files. The reference's edge store
appends a whole pipe page in one transaction and compacts later
(SQLiteStorage.java:134-171); here a page is a handful of files, not one per
touched bucket."""

from __future__ import annotations

import threading

import pytest

from aqueduct_core_spark.lake.merge import changed_entries, merge_change_batch, read_resolved
from aqueduct_core_spark.lake.table import LakeTable, file_buckets
from aqueduct_core_spark.maintenance import (
    CompactionPolicy,
    balance_bucket_ranges,
    buckets_over_threshold,
    compact_bucket_range,
    delta_pressure,
    fold_closures,
    maybe_compact,
)
from aqueduct_core_spark.oracle import replay
from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA
from aqueduct_core_spark.transcripts import read_transcripts

from tests.util import assert_delta_bucket_sets

KEEP_TOMBSTONES = "1970-01-01 00:00:00"


def _mor_table(spark, path, n_buckets):
    return LakeTable.create(
        spark, path, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
        n_buckets=n_buckets, properties={"merge_mode": "mor"},
    )


def _ingest(spark, table, n_batches, n_events=3000, seed=17):
    """Apply a generated feed in n_batches LSN-ordered batches; returns the
    feed's events as dicts."""
    from aqueduct_core_spark.feedgen import generate_change_feed

    feed = generate_change_feed(spark, n_events, 300, 10, seed=seed, ts_jitter_s=20, dup_frac=0.02)
    feed = feed.orderBy("change_lsn").cache()
    hi = feed.agg({"change_lsn": "max"}).collect()[0][0]
    step = -(-hi // n_batches)
    for b in range(n_batches):
        part = feed.filter((feed.change_lsn > b * step) & (feed.change_lsn <= (b + 1) * step))
        merge_change_batch(table, part, batch_id=b)
    events = [e.asDict() for e in feed.collect()]
    feed.unpersist()
    return events


def _view(table):
    return [
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
        for r in read_transcripts(table).orderBy("conv_id", "turn_idx").collect()
    ]


def _oracle(events):
    return [
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
        for r in replay(events)
    ]


def _resolved_rows(table):
    """Every resolved row, tombstones and sentinels included."""
    return sorted(tuple(r) for r in read_resolved(table).collect())


def _base_files_per_bucket(snap):
    out: dict[int, int] = {}
    for f in snap.files:
        if f.get("kind", "base") == "base":
            for b in file_buckets(f):
                out[b] = out.get(b, 0) + 1
    return out


def _job_descriptions(spark, group):
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for j in sc.statusTracker().getJobIdsForGroup(group):
        d = store.job(j).description()
        out.append(d.get() if d.isDefined() else "")
    return out


def test_mor_batch_writes_one_delta_file_per_write_task(spark, tmp_path):
    table = _mor_table(spark, str(tmp_path / "t"), n_buckets=64)
    events = _ingest(spark, table, n_batches=2)
    snap = table.current()
    per_commit = table.write_parallelism(snap)
    seen: set[str] = set()
    for v in table.versions():
        added = [f for f in table.snapshot_at(v).files if f["path"] not in seen]
        seen |= {f["path"] for f in added}
        assert all(f["kind"] == "delta" for f in added)
        assert len(added) <= per_commit, (v, len(added))
    touched = {b for f in snap.files for b in file_buckets(f)}
    assert len(snap.files) <= 2 * per_commit < len(touched)
    assert_delta_bucket_sets(table)

    # the view opens few enough files that the parquet source lists them on
    # the driver: no "Listing leaf files" Spark job
    group = "test-delta-layout-view"
    spark.sparkContext.setJobGroup(group, "view")
    try:
        got = _view(table)
    finally:
        spark.sparkContext.setJobGroup(None, None)
    descriptions = _job_descriptions(spark, group)
    assert descriptions
    assert not [d for d in descriptions if d.startswith("Listing leaf files")]
    assert got == _oracle(events)


@pytest.mark.parametrize("how", ["parallel", "policy"])
def test_concurrent_folds_over_shared_delta_files(spark, tmp_path, how):
    table = _mor_table(spark, str(tmp_path / "t"), n_buckets=16)
    events = _ingest(spark, table, n_batches=3, seed=23)
    snap = table.current()
    assert any(len(file_buckets(f)) > 1 for f in snap.files)
    before = _resolved_rows(table)

    # the job split keeps each delta file inside one job's buckets
    ranges = balance_bucket_ranges({}, fold_closures(snap, range(snap.n_buckets)), 4)
    for f in snap.files:
        assert sum(1 for r in ranges if set(file_buckets(f)) & set(r)) == 1

    # the row trigger picks the buckets above the median delta rows, so the
    # policy folds take some buckets of each shared file and carry the rest
    rows = sorted(r for _n, r in delta_pressure(snap).values())
    policy = CompactionPolicy(
        max_delta_files_per_bucket=3, max_delta_rows_per_bucket=rows[len(rows) // 2], n_jobs=2
    )
    hot = buckets_over_threshold(snap, policy)
    if how == "parallel":
        stats = maybe_compact(table, CompactionPolicy(max_delta_files_per_bucket=0, n_jobs=4))
    else:
        assert 1 < len(hot) < len(delta_pressure(snap))
        stats = maybe_compact(table, policy)
    assert stats and not any(s.skipped for s in stats)
    after = table.current()
    if how == "parallel":
        assert all(f.get("kind", "base") == "base" for f in after.files)
    else:
        # every bucket over the policy folded; the rest kept their deltas
        assert not set(hot) & set(delta_pressure(after))
        assert all(b in _base_files_per_bucket(after) for b in hot)
    assert all(n == 1 for n in _base_files_per_bucket(after).values())
    assert after.properties == snap.properties  # a fold swaps files only
    assert_delta_bucket_sets(table)
    assert _resolved_rows(table) == before  # no row lost or duplicated
    assert _view(table) == _oracle(events)


def test_single_bucket_fold_carries_shared_rows_over(spark, tmp_path):
    """Folding one bucket rewrites only that bucket's base data; the rows of
    the other buckets in the delta files it removes move, unchanged, into new
    delta files that a chained consumer is not sent again."""
    table = _mor_table(spark, str(tmp_path / "t"), n_buckets=16)
    events = _ingest(spark, table, n_batches=2, seed=29)
    snap = table.current()
    shared = next(f for f in snap.files if len(file_buckets(f)) > 1)
    b = file_buckets(shared)[0]
    before = _resolved_rows(table)

    compact_bucket_range(table, KEEP_TOMBSTONES, [b])
    after = table.current()
    old = {f["path"]: f for f in snap.files}
    removed = [f for p, f in old.items() if p not in {g["path"] for g in after.files}]
    added = [f for f in after.files if f["path"] not in old]
    assert [f for f in after.files if b in file_buckets(f)] == [
        f for f in added if f.get("kind", "base") == "base"
    ]
    assert _base_files_per_bucket(after)[b] == 1
    carried = [f for f in added if f["kind"] == "delta"]
    assert carried and all(f.get("migrated") for f in carried)
    assert all(b not in file_buckets(f) for f in carried)

    def rows_of(entries):
        out: dict[int, int] = {}
        for f in entries:
            for x, n in zip(file_buckets(f), f["bucket_rows"]):
                if x != b:
                    out[x] = out.get(x, 0) + n
        return out

    assert rows_of(carried) == rows_of(removed)
    assert_delta_bucket_sets(table)
    added_changes, _ = changed_entries(table, snap.version, after.version)
    assert added_changes == []
    assert _resolved_rows(table) == before
    assert _view(table) == _oracle(events)


def test_overlapping_folds_never_double_a_bucket(spark, tmp_path, monkeypatch):
    """Two folds of buckets that share delta files, both written before
    either commits: the later commit finds part of its input already folded
    and starts over instead of adding a second base file per bucket."""
    table = _mor_table(spark, str(tmp_path / "t"), n_buckets=16)
    events = _ingest(spark, table, n_batches=2, seed=31)
    snap = table.current()
    group = next(g for g in fold_closures(snap, range(16)) if len(g) > 1)
    before = _resolved_rows(table)

    barrier = threading.Barrier(2, timeout=120)
    real = LakeTable.write_files
    base_writes = []

    def gated(self, df, snap, kind="base", **kw):
        out = real(self, df, snap, kind=kind, **kw)
        if kind == "base":
            base_writes.append(len(out))
            if len(base_writes) <= 2:
                barrier.wait()  # both first attempts written, neither committed
        return out

    monkeypatch.setattr(LakeTable, "write_files", gated)
    errs: list = []

    def fold(bs):
        try:
            compact_bucket_range(table, KEEP_TOMBSTONES, bs)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [
        threading.Thread(target=fold, args=([group[0]],)),
        threading.Thread(target=fold, args=([group[-1]],)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errs
    assert len(base_writes) == 3  # the loser wrote a second time
    after = _base_files_per_bucket(table.current())
    assert after[group[0]] == after[group[-1]] == 1
    assert all(n == 1 for n in after.values())
    assert _resolved_rows(table) == before
    assert _view(table) == _oracle(events)


def test_failed_bucket_read_removes_the_commit_files(spark, tmp_path, monkeypatch):
    """A delta file whose buckets cannot be read fails the write, and the
    commit's files go with it: no manifest would ever reference them."""
    import os

    from aqueduct_core_spark.feedgen import generate_change_feed
    from aqueduct_core_spark.lake.fsio import LocalFS
    from aqueduct_core_spark.lake.table import DATA_DIR

    table = _mor_table(spark, str(tmp_path / "t"), n_buckets=16)
    _ingest(spark, table, n_batches=1, seed=37)
    data_root = os.path.join(table.root, DATA_DIR)
    commits = set(os.listdir(data_root))
    real = LocalFS.parquet_footer

    def failing(self, path, values_of=None):
        if values_of is not None:
            raise OSError("injected footer read failure")
        return real(self, path, values_of)

    monkeypatch.setattr(LocalFS, "parquet_footer", failing)
    version = table.current().version
    with pytest.raises(OSError, match="injected"):
        merge_change_batch(table, generate_change_feed(spark, 500, 50, 5, seed=38), batch_id=1)
    assert table.current().version == version
    assert set(os.listdir(data_root)) == commits
