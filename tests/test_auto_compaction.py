"""Self-tuning MOR compaction (VERDICT r3 task 4): the maintenance trigger is
data-driven — manifest delta stats decide, per bucket — not caller cron
(CompactionTask.java:40-47 made stat-driven). Sustained ingest must keep
per-bucket delta debt bounded without any manual compact call, and the
policy-triggered fold must stay oracle-exact, including against a live
concurrent writer."""

from __future__ import annotations

import threading

from aqueduct_core_spark.lake.merge import merge_change_batch
from aqueduct_core_spark.lake.table import LakeTable
from aqueduct_core_spark.maintenance import (
    CompactionPolicy,
    buckets_over_threshold,
    delta_pressure,
    maybe_compact,
)
from aqueduct_core_spark.oracle import replay
from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA
from aqueduct_core_spark.streaming.engine import IngestEngine
from aqueduct_core_spark.transcripts import read_transcripts

from tests.util import ev, events_df


def _mor_table(spark, path, n_buckets=4):
    return LakeTable.create(
        spark, path, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
        n_buckets=n_buckets, properties={"merge_mode": "mor"},
    )


def test_maybe_compact_noop_under_threshold(spark, tmp_table_dir):
    table = _mor_table(spark, tmp_table_dir)
    merge_change_batch(
        table, events_df(spark, [ev(i, conv=f"c{i}", turn=0) for i in range(1, 9)]),
        batch_id=0,
    )
    v0 = table.current().version
    assert buckets_over_threshold(table.current(), CompactionPolicy()) == []
    assert maybe_compact(table, CompactionPolicy()) == []
    assert table.current().version == v0  # pure driver-side check, no commit


def test_sustained_ingest_keeps_delta_debt_bounded(spark, tmp_path):
    """12 micro-batches of MOR ingest with NO manual compact call: the
    engine's policy hook folds over-threshold buckets as it goes, the final
    per-bucket delta-file count is <= threshold, and the table equals the
    oracle replay."""
    from aqueduct_core_spark.feedgen import generate_change_feed, write_segments

    feed_dir = str(tmp_path / "feed")
    feed = generate_change_feed(
        spark, 3000, 40, 8, seed=9, ts_jitter_s=15, dup_frac=0.02
    )
    write_segments(feed, feed_dir, n_segments=12)
    policy = CompactionPolicy(max_delta_files_per_bucket=2, n_jobs=2)
    eng = IngestEngine(
        spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        n_buckets=4, merge_mode="mor", compaction_policy=policy,
    )
    eng.run(feed_dir, max_files_per_trigger=1)
    eng.close()

    assert eng.compactions_triggered > 0  # the hook actually fired
    table = LakeTable(spark, eng.table_root)
    pressure = delta_pressure(table.current())
    assert all(
        n_files <= policy.max_delta_files_per_bucket
        for n_files, _rows in pressure.values()
    ), pressure

    expected = [
        tuple(r.values())
        for r in replay([e.asDict() for e in spark.read.parquet(feed_dir).collect()])
    ]
    got = [
        tuple(r)
        for r in read_transcripts(table).orderBy("conv_id", "turn_idx").collect()
    ]
    assert got == expected


def test_policy_compaction_races_live_writer(spark, tmp_table_dir):
    """maybe_compact rides compact_bucket_range's rebase-on-conflict, so a
    policy-triggered fold racing a live ingest commit loses no rows from
    either side (extends test_concurrency's manual-compaction race)."""
    table = _mor_table(spark, tmp_table_dir)
    first = [ev(i, conv=f"a{i % 9}", turn=i % 3) for i in range(1, 41)]
    for b, lo in enumerate(range(0, len(first), 10)):
        merge_change_batch(table, events_df(spark, first[lo : lo + 10]), batch_id=b)
    policy = CompactionPolicy(max_delta_files_per_bucket=1, n_jobs=2)
    assert buckets_over_threshold(table.current(), policy)

    second = [ev(200 + i, conv=f"b{i % 5}", turn=i % 2) for i in range(1, 31)]
    errs: list = []

    def ingest():
        try:
            merge_change_batch(
                table, events_df(spark, second), batch_id=9, writer_id="w2"
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    done: list = []

    def compact():
        try:
            done.extend(maybe_compact(table, policy))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=ingest)
    t2 = threading.Thread(target=compact)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs and done

    expect = [(r["conv_id"], r["turn_idx"], r["text"]) for r in replay(first + second)]
    got = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in read_transcripts(table).orderBy("conv_id", "turn_idx").collect()
    ]
    assert got == expect
    # no tombstone was GC'd by the auto path (retention=None keeps them all)
    assert table.current().properties.get("merge_mode") == "mor"


def test_triggered_fold_does_not_stall_ingest_cadence(spark, tmp_path, monkeypatch):
    """A policy-triggered fold runs on the background worker (the reference's
    own-scheduler CompactionTask), so apply_batch returns while the fold is
    still in flight and later batches keep landing at trigger cadence; at
    most one fold is outstanding, and the harvested result still bounds debt
    and stays oracle-exact."""
    import aqueduct_core_spark.maintenance as maint

    real = maint.maybe_compact
    started, release = threading.Event(), threading.Event()

    def gated(table, policy, **kw):
        started.set()
        assert release.wait(60), "test released the gate"
        return real(table, policy, **kw)

    monkeypatch.setattr(maint, "maybe_compact", gated)

    policy = CompactionPolicy(max_delta_files_per_bucket=1, n_jobs=2)
    eng = IngestEngine(
        spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        n_buckets=4, merge_mode="mor", compaction_policy=policy,
    )
    eng.ensure_table()
    events = [ev(i, conv=f"c{i % 7}", turn=i % 3, t=i) for i in range(1, 61)]
    batches = [events[lo : lo + 10] for lo in range(0, 60, 10)]

    applied = 0
    for b, batch in enumerate(batches):
        eng.apply_batch(events_df(spark, batch), b)
        applied += 1
        if started.is_set() and applied >= 2:
            break
    assert started.is_set(), "the fold was triggered"
    # the fold is gated (in flight) — ingest keeps going regardless
    assert eng._compaction_future is not None and not eng._compaction_future.done()
    for b2 in range(applied, len(batches)):
        eng.apply_batch(events_df(spark, batches[b2]), b2)
    assert eng.metrics.batches_applied == len(batches)  # cadence never blocked
    assert not eng._compaction_future.done()  # still exactly one outstanding

    release.set()
    eng.drain_compaction()
    assert eng.compactions_triggered > 0
    # let the hook catch any debt accrued while the fold was gated
    table = LakeTable(spark, eng.table_root)
    while buckets_over_threshold(table.current(), policy):
        done = real(table, policy)
        assert done
    eng.close()

    expect = [
        (r["conv_id"], r["turn_idx"], r["text"]) for r in replay(events)
    ]
    got = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in read_transcripts(table).orderBy("conv_id", "turn_idx").collect()
    ]
    assert got == expect


def test_concurrent_ingest_and_auto_compaction_keep_ts_stats(spark, tmp_path):
    """Ingest commits while the background worker folds: every file any
    manifest ever referenced carries ts stats (INT96 timestamps would carry
    none), and the session's parquet timestamp type is left set."""
    from aqueduct_core_spark.feedgen import generate_change_feed, write_segments
    from aqueduct_core_spark.lake.table import _TS_CONF

    spark.conf.unset(_TS_CONF)  # a session no table has been opened in yet
    feed_dir = str(tmp_path / "feed")
    feed = generate_change_feed(spark, 3000, 40, 8, seed=13, ts_jitter_s=15)
    write_segments(feed, feed_dir, n_segments=10)
    eng = IngestEngine(
        spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        n_buckets=4, merge_mode="mor",
        compaction_policy=CompactionPolicy(max_delta_files_per_bucket=1, n_jobs=2),
    )
    eng.run(feed_dir, max_files_per_trigger=1)
    eng.drain_compaction()
    eng.close()
    assert eng.compactions_triggered > 0

    table = LakeTable(spark, eng.table_root)
    entries = {f["path"]: f for v in table.versions() for f in table.snapshot_at(v).files}
    assert {f.get("kind") for f in entries.values()} == {"base", "delta"}
    missing = [p for p, f in entries.items() if "ts" not in (f.get("stats") or {})]
    assert not missing, missing
    assert spark.conf.get(_TS_CONF) == "TIMESTAMP_MICROS"
