"""Bucket-spec evolution (Iceberg partition-spec evolution analog): resize
n_buckets on a live MOR table with NO data movement, degrade reads safely
while two layouts coexist, migrate incrementally, and never re-emit changelog
rows. Reference parity: the reference's layout is fixed by Postgres/SQLite
indexes; at lake scale the layout is a spec and must evolve without a 100 TB
rewrite."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from aqueduct_core_spark.lake.merge import (
    changed_entries,
    merge_change_batch,
    read_resolved,
)
from aqueduct_core_spark.lake.table import (
    LakeTable,
    bucket_expr,
    current_spec_id,
    file_buckets,
    file_spec,
    is_mixed_spec,
)
from aqueduct_core_spark.maintenance import (
    compact_bucket_range,
    compact_table,
    migrate_spec_files,
)
from aqueduct_core_spark.oracle import replay
from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA
from aqueduct_core_spark.transcripts import read_transcripts

from tests.util import assert_delta_bucket_sets, ev, events_df

import pytest


def make_mor(spark, path, n_buckets=4):
    return LakeTable.create(
        spark, path, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
        n_buckets=n_buckets, properties={"merge_mode": "mor"},
    )


def random_events(n=360, seed=23, n_convs=12):
    rng = random.Random(seed)
    out, lsn = [], 0
    for _ in range(n):
        lsn += 1
        conv = f"c{rng.randrange(n_convs)}"
        if rng.random() < 0.06:
            out.append(ev(lsn, op=rng.choice(["I", "D"]), entity="conversation",
                          conv=conv, t=lsn + rng.randrange(-8, 9)))
        else:
            out.append(ev(lsn, op=rng.choice(["I", "U", "U", "D"]), conv=conv,
                          turn=rng.randrange(6), t=lsn + rng.randrange(-8, 9)))
    return out


def rows(table):
    return [
        tuple(r)
        for r in read_transcripts(table).orderBy("conv_id", "turn_idx").collect()
    ]


def expected(events):
    return [
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
        for r in replay(events)
    ]


def _evolved_table(spark, tmp_path, n_old=4, n_new=8, seed=23):
    """Half the feed under n_old buckets, evolve, half under n_new —
    overlapping keys so LWW must resolve ACROSS the two layouts."""
    events = random_events(seed=seed)
    half = len(events) // 2
    t = make_mor(spark, str(tmp_path / "t"), n_buckets=n_old)
    for i, lo in enumerate(range(0, half, 60)):
        merge_change_batch(t, events_df(spark, events[lo : lo + 60]), batch_id=i)
    t.evolve_bucketing(n_new)
    for j, lo in enumerate(range(half, len(events), 60)):
        merge_change_batch(t, events_df(spark, events[lo : lo + 60]), batch_id=100 + j)
    return t, events


def test_evolve_is_metadata_only_and_mor_only(spark, tmp_path):
    t = make_mor(spark, str(tmp_path / "m"), n_buckets=4)
    merge_change_batch(t, events_df(spark, random_events(60)), batch_id=0)
    before = {f["path"] for f in t.current().files}
    snap = t.evolve_bucketing(8)
    assert snap.n_buckets == 8
    assert current_spec_id(snap) == 2
    assert {f["path"] for f in snap.files} == before  # no data moved
    assert all(file_spec(f) == 1 for f in snap.files)
    assert is_mixed_spec(snap)
    # idempotent no-op (ambiguous-success retry)
    assert t.evolve_bucketing(8).version == snap.version

    # every table is merge-on-read: copy-on-write cannot be created
    with pytest.raises(ValueError, match="merge_mode"):
        LakeTable.create(
            spark, str(tmp_path / "cow"), TRANSCRIPT_PHYSICAL_SCHEMA,
            bucket_key="conv_id", n_buckets=4, properties={"merge_mode": "cow"},
        )
    from aqueduct_core_spark.streaming.engine import IngestEngine

    with pytest.raises(ValueError, match="merge_mode"):
        IngestEngine(spark, str(tmp_path / "e"), str(tmp_path / "ckpt"), merge_mode="cow")


def test_lww_resolves_across_specs(spark, tmp_path):
    t, events = _evolved_table(spark, tmp_path)
    snap = t.current()
    assert is_mixed_spec(snap)
    assert {file_spec(f) for f in snap.files} == {1, 2}
    assert rows(t) == expected(events)


def test_bucket_scoped_and_windowed_reads_in_mixed_state(spark, tmp_path):
    t, events = _evolved_table(spark, tmp_path)
    snap = t.current()
    # bucket scoping must be ROW-correct even though old files are laid out
    # under a different bucket space
    full = read_resolved(t, with_bucket_col=True)
    for b in range(snap.n_buckets):
        want = sorted(
            tuple(r)
            for r in full.filter(F.col("_bucket") == b)
            .drop("_bucket")
            .collect()
        )
        got = sorted(
            tuple(r)
            for r in read_resolved(t, buckets=[b]).collect()
        )
        assert got == want, f"bucket {b} scoping diverged in mixed state"
    # windowed read (stats skipping disabled while mixed, row filter still on)
    lo = events[len(events) // 3]["ts"]
    win = sorted(
        tuple(r) for r in read_resolved(t, ranges={"ts": (lo, None)}).collect()
    )
    base = sorted(
        tuple(r)
        for r in read_resolved(t).filter(F.col("ts") >= F.lit(lo)).collect()
    )
    assert win == base


def test_incremental_migration_preserves_state(spark, tmp_path):
    t, events = _evolved_table(spark, tmp_path)
    want = expected(events)
    steps = 0
    while True:
        st = migrate_spec_files(t, max_files=2)
        steps += 1
        assert rows(t) == want, f"state diverged after migration step {steps}"
        if st.done:
            break
        assert steps < 100
    snap = t.current()
    assert not is_mixed_spec(snap)
    assert all(file_spec(f) == 2 for f in snap.files)
    # migrated entries landed in the CURRENT layout's bucket space
    assert all(0 <= b < snap.n_buckets for f in snap.files for b in file_buckets(f))
    assert_delta_bucket_sets(t)
    assert steps > 1  # max_files actually bounded each commit


def test_migration_racing_full_compaction_keeps_state(spark, tmp_path, monkeypatch):
    """A compaction that commits between the migration's write and its
    commit has already rewritten the migration's input: the migration must
    not put its copy of those rows back beside the compacted files (that
    resurrected deleted rows), but start over from the new head."""
    t, events = _evolved_table(spark, tmp_path)
    real_commit = LakeTable.try_commit
    fired = []

    def racing_commit(self, snap):
        if not fired:
            fired.append(True)
            compact_table(t, "2030-01-01 00:00:00")
        return real_commit(self, snap)

    monkeypatch.setattr(LakeTable, "try_commit", racing_commit)
    st = migrate_spec_files(t)
    monkeypatch.undo()
    assert fired
    assert rows(t) == expected(events)
    assert st.done
    assert not is_mixed_spec(t.current())


def test_changelog_never_reemits_migrated_rows(spark, tmp_path):
    t, events = _evolved_table(spark, tmp_path)
    v_before = t.current().version
    ingested = sum(
        f.get("rows") or 0 for f in t.current().files if f.get("kind") == "delta"
    )
    while not migrate_spec_files(t, max_files=3).done:
        pass
    # a consumer resuming from BEFORE migration sees nothing new: migration
    # moves bytes, not logical rows
    added, _ = changed_entries(t, v_before)
    assert added == []
    # and a consumer replaying the whole history sees each row exactly once
    all_added, _ = changed_entries(t, 1)
    assert sum(f.get("rows") or 0 for f in all_added) == ingested


def test_compaction_during_mixed_keeps_tombstones(spark, tmp_path):
    t = make_mor(spark, str(tmp_path / "t"), n_buckets=4)
    # key inserted under the OLD spec...
    merge_change_batch(
        t, events_df(spark, [ev(1, op="I", conv="cX", turn=0, t=10)]), batch_id=0
    )
    t.evolve_bucketing(8)
    # ...deleted under the NEW spec
    merge_change_batch(
        t, events_df(spark, [ev(2, op="D", conv="cX", turn=0, t=20)]), batch_id=1
    )
    assert rows(t) == []
    # fold every current-spec bucket with retention far in the future: in a
    # single-spec table this would drop the tombstone; while mixed it MUST be
    # retained or the old-spec insert resurrects
    compact_bucket_range(
        t, tombstone_retention_ts="2030-01-01 00:00:00", buckets=list(range(8))
    )
    assert rows(t) == [], "tombstone dropped mid-migration resurrected old-spec row"
    snap = t.current()
    assert is_mixed_spec(snap)  # old-spec file not folded by range compaction
    # full compaction completes the migration and is then allowed to GC
    compact_table(t, tombstone_retention_ts="2030-01-01 00:00:00")
    assert rows(t) == []
    assert not is_mixed_spec(t.current())


def test_full_compaction_completes_migration(spark, tmp_path):
    t, events = _evolved_table(spark, tmp_path)
    compact_table(t, tombstone_retention_ts="1970-01-01 00:00:00")
    snap = t.current()
    assert not is_mixed_spec(snap)
    assert all(file_spec(f) == 2 for f in snap.files)
    assert rows(t) == expected(events)


def test_new_writes_use_new_layout(spark, tmp_path):
    t, _ = _evolved_table(spark, tmp_path, n_old=2, n_new=16)
    new_spec_files = [f for f in t.current().files if file_spec(f) == 2]
    assert new_spec_files
    # files written post-evolution span the WIDER bucket space (2 buckets
    # could never address ids >= 2)
    assert any(b >= 2 for f in new_spec_files for b in file_buckets(f))
    # and each row physically lives in a bucket its entry records, under the
    # bucket the new spec assigns it
    snap = t.current()
    one = [f for f in new_spec_files if (f.get("rows") or 0) > 0][0]
    got = (
        t.spark.read.schema(snap.schema()).parquet(one["path"])
        .select(bucket_expr("conv_id", 16).alias("b"))
        .distinct()
        .collect()
    )
    assert {r["b"] for r in got} == set(file_buckets(one))
    assert_delta_bucket_sets(t)


def test_engine_background_migration_drains_mixed_state(spark, tmp_path):
    """Live-pipeline migration: ingest under 4 buckets, evolve to 8 mid-feed,
    keep ingesting with spec_migration.files_per_commit set — the engine's
    single-outstanding maintenance worker must drain the old-spec files
    between batches without stalling ingest, and the final state must equal
    the oracle replay."""
    from aqueduct_core_spark.feedgen import generate_change_feed, write_segments
    from aqueduct_core_spark.streaming.engine import IngestEngine

    import os
    import shutil

    feed = generate_change_feed(spark, 4000, 50, 8, seed=31, ts_jitter_s=15, dup_frac=0.02)
    staging, live = str(tmp_path / "staging"), str(tmp_path / "feed")
    # segments are lsn-range-ordered: part-00000 holds the lowest lsn range
    write_segments(feed, staging, n_segments=12)
    parts = sorted(
        f for f in os.listdir(staging) if f.endswith(".parquet")
    )
    os.makedirs(live)
    for f in parts[:4]:  # phase 1: first third of the log
        shutil.copy(os.path.join(staging, f), os.path.join(live, f))

    eng = IngestEngine(
        spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        n_buckets=4, merge_mode="mor",
        table_properties={"spec_migration.files_per_commit": "2"},
    )
    eng.run(live, max_files_per_trigger=1)
    table = LakeTable(spark, eng.table_root)
    table.evolve_bucketing(8)
    cur = table.current()
    assert is_mixed_spec(cur)
    old_before = sum(1 for f in cur.files if file_spec(f) != current_spec_id(cur))
    for f in parts[4:]:  # phase 2: the rest arrives; same checkpoint resumes
        shutil.copy(os.path.join(staging, f), os.path.join(live, f))
    eng.run(live, max_files_per_trigger=1)
    eng.drain_compaction()
    eng.close()

    # the background worker made real progress while batches kept landing
    # (at most one outstanding job, so a short run need not fully drain)
    cur = table.current()
    old_after = sum(1 for f in cur.files if file_spec(f) != current_spec_id(cur))
    assert eng.compactions_triggered > 0
    assert old_after < old_before, (
        f"background migration retired nothing ({old_before} -> {old_after})"
    )
    # drain the tail inline and verify the end state
    while not migrate_spec_files(table, max_files=4).done:
        pass
    assert not is_mixed_spec(table.current())
    expected = [
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
        for r in replay([e.asDict() for e in feed.orderBy("change_lsn").collect()])
    ]
    assert rows(table) == expected


def test_reopened_engine_migrates_from_manifest_property(spark, tmp_path):
    """The migration opt-in is read from the manifest: an engine reopened on
    the table without table_properties (an ingest restart without
    --table-prop) still runs the background migration."""
    from aqueduct_core_spark.feedgen import generate_change_feed, write_segments
    from aqueduct_core_spark.streaming.engine import IngestEngine

    import os
    import shutil

    feed = generate_change_feed(spark, 1200, 30, 6, seed=37, ts_jitter_s=15)
    staging, live = str(tmp_path / "staging"), str(tmp_path / "feed")
    write_segments(feed, staging, n_segments=6)
    parts = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    os.makedirs(live)

    def arrive(names):
        for f in names:
            shutil.copy(os.path.join(staging, f), os.path.join(live, f))

    def engine(**kw):
        return IngestEngine(
            spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
            n_buckets=4, merge_mode="mor", **kw,
        )

    arrive(parts[:3])
    eng = engine(table_properties={"spec_migration.files_per_commit": "2"})
    eng.run(live, max_files_per_trigger=1)
    eng.close()
    table = LakeTable(spark, eng.table_root)
    table.evolve_bucketing(8)
    assert is_mixed_spec(table.current())

    arrive(parts[3:])
    eng = engine()
    eng.run(live, max_files_per_trigger=1)
    eng.close()
    assert eng.compactions_triggered > 0
