"""Merge-on-read: append-only deltas + read-time resolution + compaction
fold. Must be observationally identical to the oracle."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from aqueduct_core_spark.lake.merge import merge_change_batch, read_resolved
from aqueduct_core_spark.lake.table import LakeTable
from aqueduct_core_spark.maintenance import compact_table
from aqueduct_core_spark.oracle import replay
from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA
from aqueduct_core_spark.streaming.engine import IngestEngine
from aqueduct_core_spark.transcripts import read_transcripts

from tests.util import ev, events_df, ts


def make_table(spark, path, n_buckets=4):
    return LakeTable.create(
        spark, path, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
        n_buckets=n_buckets,
    )


def random_events(n=400, seed=11):
    rng = random.Random(seed)
    out, lsn = [], 0
    for _ in range(n):
        lsn += 1
        conv = f"c{rng.randrange(10)}"
        if rng.random() < 0.07:
            out.append(ev(lsn, op=rng.choice(["I", "D"]), entity="conversation",
                          conv=conv, t=lsn + rng.randrange(-8, 9)))
        else:
            out.append(ev(lsn, op=rng.choice(["I", "U", "U", "D"]), conv=conv,
                          turn=rng.randrange(8), t=lsn + rng.randrange(-8, 9)))
    return out


def rows(table):
    return [tuple(r) for r in read_transcripts(table).orderBy("conv_id", "turn_idx").collect()]


def test_mor_equals_cow_equals_oracle(spark, tmp_path):
    events = random_events()
    batches = [events[i : i + 80] for i in range(0, len(events), 80)]
    t = make_table(spark, str(tmp_path / "mor"))
    for i, b in enumerate(batches):
        merge_change_batch(t, events_df(spark, b), batch_id=i)
    expected = [
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
        for r in replay(events)
    ]
    assert rows(t) == expected
    # MOR really appended (no base rewrites): one delta file set per batch
    kinds = {f.get("kind", "base") for f in t.current().files}
    assert kinds == {"delta"}


def test_mor_compaction_folds_deltas_to_base(spark, tmp_path):
    events = random_events(300, seed=5)
    t = make_table(spark, str(tmp_path / "m"))
    for i in range(0, 300, 100):
        merge_change_batch(t, events_df(spark, events[i : i + 100]), batch_id=i)
    before = rows(t)
    compact_table(t, tombstone_retention_ts=ts(10_000_000), keep_snapshots=1)
    snap = t.current()
    assert all(f.get("kind", "base") == "base" for f in snap.files)
    assert rows(t) == before  # fold changes nothing observable
    # after the fold, reads skip resolution (pure base) — raw read is resolved
    assert read_resolved(t).count() == t.read().count()


def test_mor_streaming_engine_end_to_end(spark, tmp_path):
    from aqueduct_core_spark.feedgen import generate_change_feed, write_segments

    feed_dir = str(tmp_path / "feed")
    feed = generate_change_feed(spark, 4000, 60, 8, seed=3, ts_jitter_s=15, dup_frac=0.02)
    write_segments(feed, feed_dir, n_segments=4)
    eng = IngestEngine(
        spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        n_buckets=8, merge_mode="mor",
    )
    eng.run(feed_dir, max_files_per_trigger=2)
    expected = [
        tuple(r.values())
        for r in replay([e.asDict() for e in spark.read.parquet(feed_dir).collect()])
    ]
    got = [tuple(r) for r in read_transcripts(LakeTable(spark, eng.table_root))
           .orderBy("conv_id", "turn_idx").collect()]
    assert got == expected


def test_mor_idempotent_replay(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "m"))
    b = events_df(spark, [ev(1, conv="A", turn=0)])
    merge_change_batch(t, b, batch_id=0)
    r = merge_change_batch(t, b, batch_id=0)
    assert r.skipped
    assert read_transcripts(t).count() == 1


def test_mor_read_path_single_exchange_with_conv_parallelism(spark, tmp_path):
    """The plain MOR read resolves on ONE exchange whose partitioning keys
    include conv_id, not bucket alone — resolution parallelism scales with
    key cardinality, so one hot bucket cannot collapse the read into one
    task (the write path alone partitions by bucket to match file layout)."""
    from aqueduct_core_spark.plans.inspect import count_exchanges, explain_str

    t = make_table(spark, str(tmp_path / "m"))
    events = random_events(200, seed=8)
    for i in range(0, 200, 100):
        merge_change_batch(t, events_df(spark, events[i : i + 100]), batch_id=i)
    assert any(f.get("kind") == "delta" for f in t.current().files)

    resolved = read_resolved(t)
    assert count_exchanges(resolved) == 1
    exchange_lines = [
        ln for ln in explain_str(resolved, "simple").splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert exchange_lines and all("conv_id" in ln for ln in exchange_lines)
    # bucketed_output implies the bucket column in the contract (enforced,
    # not just documented)
    from aqueduct_core_spark.lake.table import BUCKET_COL

    assert BUCKET_COL in read_resolved(t, with_bucket_col=False, bucketed_output=True).columns
