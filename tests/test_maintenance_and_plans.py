"""Maintenance (tombstone compaction, snapshot expiry), feed sources, and
physical-plan quality assertions."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from aqueduct_core_spark.lake.merge import merge_change_batch, read_resolved
from aqueduct_core_spark.lake.table import LakeTable, file_buckets
from aqueduct_core_spark.maintenance import compact_bucket_range, compact_table
from aqueduct_core_spark.plans import count_exchanges, has_broadcast_join, pushed_filters
from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA
from aqueduct_core_spark.sources import read_feed, read_feed_stream
from aqueduct_core_spark.transcripts import read_transcripts

from tests.util import ev, events_df, ts


def make_table(spark, path, n_buckets=4):
    return LakeTable.create(
        spark, path, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id", n_buckets=n_buckets
    )


def test_compaction_purges_aged_tombstones_only(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    batch = [
        ev(1, conv="A", turn=0, t=10),
        ev(2, "D", conv="A", turn=0, t=20),   # old tombstone -> purged
        ev(3, conv="B", turn=0, t=30),
        ev(4, "D", conv="B", turn=1, t=5000), # young tombstone -> retained
    ]
    merge_change_batch(t, events_df(spark, batch), batch_id=0)
    raw_before = t.read().count()
    stats = compact_table(t, tombstone_retention_ts=ts(1000), keep_snapshots=1)
    assert not stats.skipped
    raw_after = t.read()
    assert raw_after.count() == raw_before - 1  # only A's aged tombstone gone
    assert raw_after.filter(F.col("_deleted")).count() == 1  # B's young one kept
    # live view unchanged by compaction
    assert [(r["conv_id"], r["turn_idx"]) for r in read_transcripts(t).collect()] == [("B", 0)]
    # old snapshots expired
    assert len(t.versions()) <= 2


def test_late_update_after_purge_reappears_documented_semantics(spark, tmp_table_dir):
    # After the tombstone ages out and is purged, a straggler older than the
    # delete CAN re-insert — identical to the reference, where stragglers
    # arriving after deletion-compaction also miss the delete. This documents
    # the retention contract: the threshold must exceed max expected lateness.
    t = make_table(spark, tmp_table_dir)
    merge_change_batch(t, events_df(spark, [ev(2, "D", conv="A", turn=0, t=20)]), batch_id=0)
    compact_table(t, tombstone_retention_ts=ts(1000))
    merge_change_batch(t, events_df(spark, [ev(1, "U", conv="A", turn=0, t=10)]), batch_id=1)
    assert read_transcripts(t).count() == 1


@pytest.mark.parametrize("fold", ["compact_table", "compact_bucket_range"])
def test_none_retention_keeps_every_tombstone(spark, tmp_table_dir, fold):
    """tombstone_retention_ts=None keeps every tombstone on both fold paths,
    so a redelivered insert older than its delete stays deleted."""
    t = make_table(spark, tmp_table_dir)
    inserts = [ev(i, conv=f"c{i % 5}", turn=i // 5, t=100 + i) for i in range(1, 26)]
    deletes = [
        ev(100, "D", conv="c0", turn=1, t=500),
        ev(101, "D", conv="c1", turn=2, t=500),
        ev(102, "D", entity="conversation", conv="c2", t=500),
    ]
    merge_change_batch(t, events_df(spark, inserts + deletes), batch_id=0)
    tombstones = read_resolved(t).filter(F.col("_deleted")).count()
    assert tombstones >= len(deletes)
    if fold == "compact_table":
        compact_table(t, None)
    else:
        compact_bucket_range(t, None, list(range(t.current().n_buckets)))
    assert all(f.get("kind", "base") == "base" for f in t.current().files)
    assert t.read().filter(F.col("_deleted")).count() == tombstones
    deleted = {("c0", 1), ("c1", 2)} | {("c2", e["turn_idx"]) for e in inserts if e["conv_id"] == "c2"}
    redelivered = [e for e in inserts if (e["conv_id"], e["turn_idx"]) in deleted]
    merge_change_batch(t, events_df(spark, redelivered), batch_id=1)
    live = {(r["conv_id"], r["turn_idx"]) for r in read_transcripts(t).collect()}
    assert not live & deleted
    assert len(live) == len(inserts) - len(deleted)


def test_compaction_leaves_one_file_per_bucket(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n_buckets=2)
    for b in range(4):
        merge_change_batch(
            t, events_df(spark, [ev(10 + b, conv=f"c{b}", turn=0)]), batch_id=b
        )
    compact_table(t, tombstone_retention_ts=ts(0))
    per_bucket: dict[int, int] = {}
    for f in t.current().files:
        for b in file_buckets(f):
            per_bucket[b] = per_bucket.get(b, 0) + 1
    assert all(n == 1 for n in per_bucket.values())
    assert read_transcripts(t).count() == 4


def test_feed_sources_roundtrip(spark, tmp_path):
    feed = events_df(spark, [ev(i, conv=f"c{i}", turn=0) for i in range(1, 9)])
    p_parquet, p_json = str(tmp_path / "p"), str(tmp_path / "j")
    feed.write.parquet(p_parquet)
    feed.write.json(p_json)
    assert read_feed(spark, p_parquet).count() == 8
    assert read_feed(spark, p_json, fmt="json").count() == 8
    bounded = read_feed(spark, p_parquet, start_lsn=3, end_lsn=5)
    assert bounded.count() == 3
    # the LSN bound must reach the parquet scan (min-max segment pruning)
    assert any("change_lsn" in f for f in pushed_filters(bounded))
    stream = read_feed_stream(spark, p_parquet, max_files_per_trigger=2)
    assert stream.isStreaming


def test_star_join_broadcasts_dimensions(spark):
    import __spark_entry__ as entry

    df = entry.queries()["olap_top_nations_revenue"](spark, "/root/testdata/sf0.001")
    assert has_broadcast_join(df)


def test_merge_plan_shuffle_budget(spark, tmp_table_dir):
    # the apply path's full plan: dedup (2 salted aggs) + merge groupBy +
    # cascade join + write partitioning — exchanges must stay bounded (no
    # accidental extra shuffles from column pruning failures etc.)
    from aqueduct_core_spark.lake.merge import lww_dedup, normalize_events

    t = make_table(spark, tmp_table_dir)
    batch = events_df(spark, [ev(i, conv=f"c{i % 4}", turn=i % 3) for i in range(1, 60)])
    src = normalize_events(batch, t.current().schema())
    deduped = lww_dedup(src)
    assert count_exchanges(deduped) <= 2  # salted phase + final key phase
