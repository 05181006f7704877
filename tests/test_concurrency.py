"""Optimistic-concurrency commits: concurrent writers race on the manifest CAS;
the loser retries and both batches land exactly once (the reference's
single-flight advisory lock / optimistic registry versioning,
PostgresqlStorage.java:503-505, PostgresNodeGroup.java:33-41)."""

from __future__ import annotations

import json
import threading

import pytest

from aqueduct_core_spark.lake.merge import merge_change_batch
from aqueduct_core_spark.lake.table import CommitConflict, LakeTable, Snapshot
from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA
from aqueduct_core_spark.transcripts import read_transcripts

from tests.util import ev, events_df


def test_concurrent_writers_both_commit(spark, tmp_table_dir):
    table = LakeTable.create(
        spark, tmp_table_dir, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
        n_buckets=4, properties={"merge_mode": "mor"},
    )
    b1 = events_df(spark, [ev(i, conv=f"a{i}", turn=0) for i in range(1, 21)])
    b2 = events_df(spark, [ev(100 + i, conv=f"b{i}", turn=0) for i in range(1, 21)])

    errs = []

    def run(df, writer):
        try:
            merge_change_batch(table, df, batch_id=0, writer_id=writer)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=run, args=(b1, "w1"))
    t2 = threading.Thread(target=run, args=(b2, "w2"))
    t1.start(); t2.start(); t1.join(); t2.join()

    assert not errs
    snap = table.current()
    assert snap.txn.get("w1") == 0 and snap.txn.get("w2") == 0
    assert read_transcripts(table).count() == 40  # both batches, no loss


def test_manifest_cas_rejects_duplicate_version(spark, tmp_table_dir):
    table = LakeTable.create(
        spark, tmp_table_dir, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id", n_buckets=2
    )
    snap = table.current()
    nxt = Snapshot(
        version=snap.version + 1, current_schema_id=snap.current_schema_id,
        schemas=snap.schemas, n_buckets=snap.n_buckets, bucket_key=snap.bucket_key,
        files=snap.files, txn=snap.txn, properties=snap.properties,
        parent=snap.version, committed_at=0.0,
    )
    table.try_commit(nxt)
    try:
        table.try_commit(nxt)
        raised = False
    except CommitConflict:
        raised = True
    assert raised


def test_losing_commit_attempt_leaves_no_orphan_files(spark, tmp_table_dir):
    """A writer that loses the manifest CAS must reclaim its already-written
    data files — orphans referenced by no manifest would leak forever (even
    expire_snapshots cannot find them)."""
    import os

    from aqueduct_core_spark.lake.table import BUCKET_COL, DATA_DIR, bucket_expr

    table = LakeTable.create(
        spark, tmp_table_dir, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
        n_buckets=4, properties={"merge_mode": "mor"},
    )
    snap = table.current()
    from aqueduct_core_spark.lake.merge import normalize_events

    df = normalize_events(
        events_df(spark, [ev(i, conv=f"c{i}", turn=0) for i in range(1, 11)]),
        snap.schema(),
    ).withColumn(BUCKET_COL, bucket_expr(snap.bucket_key, snap.n_buckets))
    # simulate the losing side: files written, then the CAS fails
    losing = table.write_files(df, snap, kind="delta")
    assert all(os.path.exists(e["path"]) for e in losing)
    table.discard_files(losing)
    assert not any(os.path.exists(e["path"]) for e in losing)
    # the whole commit dir is gone, not just the parquet files
    data_root = os.path.join(tmp_table_dir, DATA_DIR)
    assert all(
        os.path.relpath(e["path"], data_root).split(os.sep)[0] not in os.listdir(data_root)
        for e in losing
    )
    assert os.path.isdir(data_root)  # and nothing above it
    # end-to-end: two racing merges still leave only manifest-referenced files
    b1 = events_df(spark, [ev(50 + i, conv=f"x{i}", turn=0) for i in range(1, 6)])
    b2 = events_df(spark, [ev(80 + i, conv=f"y{i}", turn=0) for i in range(1, 6)])
    t1 = threading.Thread(target=merge_change_batch, args=(table, b1, 0, "wa"))
    t2 = threading.Thread(target=merge_change_batch, args=(table, b2, 0, "wb"))
    t1.start(); t2.start(); t1.join(); t2.join()
    live = {f["path"] for f in table.current().files}
    on_disk = set()
    for dirpath, _dn, fns in os.walk(data_root):
        for fn in fns:
            if fn.endswith(".parquet"):
                on_disk.add(os.path.join(dirpath, fn))
    assert on_disk == live


@pytest.mark.parametrize("compactor", ["compact_bucket_range", "compact_table"])
def test_compaction_races_ingest_writer_no_lost_data(spark, tmp_table_dir, compactor):
    """Compaction (per bucket range, or the whole table) commits WHILE an
    ingest writer commits: the compactor rebases onto the writer's snapshot
    (or vice versa) and no row from either side is lost (the reference's
    single-flight semantics, PostgresqlStorageIntegrationSpec.groovy:483-531
    — here: optimistic rebase instead of an advisory lock)."""
    from datetime import datetime

    from aqueduct_core_spark.maintenance import compact_bucket_range, compact_table
    from aqueduct_core_spark.oracle import replay

    table = LakeTable.create(
        spark, tmp_table_dir, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
        n_buckets=4, properties={"merge_mode": "mor"},
    )
    first = [ev(i, conv=f"a{i % 7}", turn=i % 3) for i in range(1, 41)]
    first += [ev(100 + i, "D", conv=f"a{i % 7}", turn=i % 3) for i in range(1, 8)]
    merge_change_batch(table, events_df(spark, first), batch_id=0, writer_id="w1")

    second = [ev(200 + i, conv=f"b{i % 5}", turn=i % 2) for i in range(1, 31)]
    errs: list = []

    def ingest():
        try:
            merge_change_batch(
                table, events_df(spark, second), batch_id=1, writer_id="w1"
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def compact():
        try:
            # retention far in the future: every tombstone at/below it folds away
            if compactor == "compact_table":
                compact_table(table, datetime(2030, 1, 1))
            else:
                compact_bucket_range(table, datetime(2030, 1, 1), buckets=[0, 1])
                compact_bucket_range(table, datetime(2030, 1, 1), buckets=[2, 3])
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=ingest)
    t2 = threading.Thread(target=compact)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs

    expect = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in replay(first + second)
    ]
    got = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in read_transcripts(table).orderBy("conv_id", "turn_idx").collect()
    ]
    assert got == expect


@pytest.mark.parametrize(
    "change", ["evolve_schema", "evolve_bucketing", "register_consumer"]
)
def test_metadata_commit_reapplies_after_losing_race(
    spark, tmp_table_dir, monkeypatch, change
):
    """A metadata commit whose CAS loses to an ingest commit re-applies its
    change on the winner's snapshot: the head keeps the ingest's files and
    txn, and the change lands exactly once."""
    from pyspark.sql.types import StringType, StructField, StructType

    from aqueduct_core_spark.oracle import replay

    table = LakeTable.create(
        spark, tmp_table_dir, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
        n_buckets=4, properties={"merge_mode": "mor"},
    )
    first = [ev(i, conv=f"a{i % 5}", turn=i % 3) for i in range(1, 21)]
    second = [ev(100 + i, conv=f"b{i % 4}", turn=i % 2) for i in range(1, 13)]
    merge_change_batch(table, events_df(spark, first), batch_id=0, writer_id="w1")
    v0 = table.current().version

    real_commit = LakeTable.try_commit
    fired, merged = [], set()

    def racing_commit(self, snap):
        if not fired:
            fired.append(True)
            merge_change_batch(table, events_df(spark, second), batch_id=0, writer_id="w2")
            merged.update(f["path"] for f in table.current().files)
        return real_commit(self, snap)

    wider = StructType(
        TRANSCRIPT_PHYSICAL_SCHEMA.fields + [StructField("model", StringType(), True)]
    )
    monkeypatch.setattr(LakeTable, "try_commit", racing_commit)
    if change == "evolve_schema":
        table.evolve_schema(wider)
    elif change == "evolve_bucketing":
        table.evolve_bucketing(8)
    else:
        table.register_consumer("child", v0)
    monkeypatch.undo()

    head = table.current()
    assert merged
    assert head.version == v0 + 2  # the ingest commit, then ours once
    assert head.txn == {"w1": 0, "w2": 0}
    assert merged <= {f["path"] for f in head.files}
    if change == "evolve_schema":
        assert [s["schema_id"] for s in head.schemas] == [1, 2]
        assert head.schema() == wider
    elif change == "evolve_bucketing":
        assert head.n_buckets == 8
        assert [s["n_buckets"] for s in json.loads(head.properties["bucket_specs"])] == [4, 8]
        assert {f.get("spec") for f in head.files} == {1}
    else:
        assert head.properties["consumers"] == {"child": v0}
    expect = [(r["conv_id"], r["turn_idx"], r["text"]) for r in replay(first + second)]
    got = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in read_transcripts(table).orderBy("conv_id", "turn_idx").collect()
    ]
    assert got == expect


def test_parallel_range_compaction_equals_full(spark, tmp_table_dir):
    """maybe_compact over every delta bucket (disjoint ranges, concurrent
    commits) leaves the same live view as whole-table compact_table, folds MOR
    deltas into base files, and drops aged tombstones."""
    from datetime import datetime

    from aqueduct_core_spark.maintenance import CompactionPolicy, maybe_compact
    from aqueduct_core_spark.oracle import replay

    table = LakeTable.create(
        spark, tmp_table_dir, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
        n_buckets=8, properties={"merge_mode": "mor"},
    )
    events = [ev(i, conv=f"c{i % 13}", turn=i % 4) for i in range(1, 61)]
    events += [ev(200 + i, "D", conv=f"c{i % 13}", turn=i % 4) for i in range(1, 10)]
    for b, lo in enumerate(range(0, len(events), 23)):
        merge_change_batch(table, events_df(spark, events[lo : lo + 23]), batch_id=b)
    assert any(f.get("kind") == "delta" for f in table.current().files)

    stats = maybe_compact(
        table, CompactionPolicy(max_delta_files_per_bucket=0, n_jobs=4), datetime(2030, 1, 1)
    )
    assert len(stats) > 1
    assert all(not s.skipped for s in stats)
    snap = table.current()
    assert all(f.get("kind", "base") == "base" for f in snap.files)  # deltas folded
    raw = table.read()
    assert raw.filter("_deleted").count() == 0  # aged tombstones dropped
    expect = [(r["conv_id"], r["turn_idx"], r["text"]) for r in replay(events)]
    got = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in read_transcripts(table).orderBy("conv_id", "turn_idx").collect()
    ]
    assert got == expect
