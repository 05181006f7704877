"""Incremental changelog reads (`read_changes`) + row-balanced maintenance
ranges. The changelog is the lake-native form of the reference's offset-paged
pipe read (`GET /pipe/{offset}`): consumers remember the snapshot version they
processed and tail the table without rescanning it."""

from __future__ import annotations

import pytest

from aqueduct_core_spark.lake.merge import merge_change_batch, read_changes
from aqueduct_core_spark.lake.table import LakeTable
from aqueduct_core_spark.maintenance import balance_bucket_ranges, compact_table
from aqueduct_core_spark.oracle import replay
from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA
from aqueduct_core_spark.transcripts import read_transcripts

from tests.util import ev, events_df, ts


def make_table(spark, path):
    return LakeTable.create(
        spark, path, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id", n_buckets=4
    )


def batch(i):
    # unique keys per batch -> delta rows == batch events exactly
    return [ev(i * 100 + j, conv=f"c{i}", turn=j, t=i * 100 + j) for j in range(5)]


def lsns(df):
    return sorted(r["_lsn"] for r in df.collect())


def expected_lsns(events):
    return sorted(e["change_lsn"] for e in events)


def live_rows(table):
    return [
        (r["conv_id"], r["turn_idx"], r["text"], r["ts"])
        for r in read_transcripts(table).orderBy("conv_id", "turn_idx").collect()
    ]


def oracle_rows(events):
    return [(r["conv_id"], r["turn_idx"], r["text"], r["ts"]) for r in replay(events)]


def test_changelog_tail_and_interval(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"))
    for i in range(3):
        merge_change_batch(t, events_df(spark, batch(i)), batch_id=i)  # v2, v3, v4
    assert lsns(read_changes(t, since_version=2)) == expected_lsns(batch(1) + batch(2))
    assert lsns(read_changes(t, since_version=2, until_version=3)) == expected_lsns(batch(1))
    # consumer fully caught up -> empty
    assert read_changes(t, since_version=t.current().version).count() == 0


def test_changelog_survives_interleaved_compaction(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"))
    merge_change_batch(t, events_df(spark, batch(0)), batch_id=0)  # v2
    merge_change_batch(t, events_df(spark, batch(1)), batch_id=1)  # v3
    compact_table(t, tombstone_retention_ts=ts(0), keep_snapshots=10)  # v4 folds deltas
    merge_change_batch(t, events_df(spark, batch(2)), batch_id=2)  # v5
    # batch 1's delta files were folded into base at v4 — the version walk
    # still captures them from manifest v3
    assert lsns(read_changes(t, since_version=2)) == expected_lsns(batch(1) + batch(2))


def test_changelog_retention_and_cow_guards(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"))
    for i in range(3):
        merge_change_batch(t, events_df(spark, batch(i)), batch_id=i)
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        read_changes(t, since_version=2)

    # A legacy copy-on-write table (merge_mode="cow", written by older
    # builds) holds its history in rewritten base files. It keeps merging and
    # reading, but its changelog is refused rather than silently empty.
    c = make_table(spark, str(tmp_path / "c"))
    merge_change_batch(c, events_df(spark, batch(0)), batch_id=0)
    compact_table(c, tombstone_retention_ts=ts(0))
    c.commit(lambda snap: {"properties": {**snap.properties, "merge_mode": "cow"}})
    events = batch(0) + batch(1) + batch(2) + [ev(999, "D", conv="c1", turn=2, t=999)]
    for i, b in enumerate([batch(1), batch(2), events[-1:]], start=1):
        merge_change_batch(c, events_df(spark, b), batch_id=i)
    assert c.current().properties["merge_mode"] == "cow"
    assert live_rows(c) == oracle_rows(events)
    with pytest.raises(ValueError, match="merge-on-read"):
        read_changes(c, since_version=1)


def test_balance_bucket_ranges_hot_bucket():
    jobs = balance_bucket_ranges(
        {0: 100, 1: 1, 2: 1, 3: 1}, [[b] for b in range(4)], n_jobs=2
    )
    assert jobs == [[0], [1, 2, 3]]
    # disjoint cover, including buckets with no files at all
    jobs = balance_bucket_ranges({5: 10}, [[b] for b in range(8)], n_jobs=3)
    flat = sorted(b for j in jobs for b in j)
    assert flat == list(range(8))
    assert sum(1 for j in jobs if 5 in j) == 1


def test_export_changefeed_round_trips_into_fresh_engine(spark, tmp_path):
    """Cross-system chaining: a table's exported changefeed, ingested by a
    FRESH table through the normal normalize/merge path, reproduces the same
    final state — the reference's node-serves-pipe-to-nodes hierarchy across
    the lake boundary (HttpPipeClient.java:36-63), including conversation
    deletes whose cascade sentinel must be re-derived on re-ingest."""
    import random

    from aqueduct_core_spark.transcripts import export_changefeed

    rng = random.Random(77)
    events, lsn = [], 0
    for _ in range(240):
        lsn += 1
        conv = f"c{rng.randrange(9)}"
        if rng.random() < 0.08:
            events.append(ev(lsn, op=rng.choice(["I", "D"]), entity="conversation",
                             conv=conv, t=lsn + rng.randrange(-6, 7)))
        else:
            events.append(ev(lsn, op=rng.choice(["I", "U", "D"]), conv=conv,
                             turn=rng.randrange(5), t=lsn + rng.randrange(-6, 7)))
    src = LakeTable.create(
        spark, str(tmp_path / "src"), TRANSCRIPT_PHYSICAL_SCHEMA,
        bucket_key="conv_id", n_buckets=4, properties={"merge_mode": "mor"},
    )
    for i in range(3):
        merge_change_batch(src, events_df(spark, events[i * 80 : (i + 1) * 80]), batch_id=i)

    feed = export_changefeed(src, since_version=1)
    # feed shape is the ingestable contract: NULL turn_idx only on
    # conversation events, ops within the valid set, lsn total order intact
    assert feed.filter("entity = 'turn' AND turn_idx IS NULL").count() == 0
    assert feed.filter("op NOT IN ('U','D')").count() == 0

    dst = LakeTable.create(
        spark, str(tmp_path / "dst"), TRANSCRIPT_PHYSICAL_SCHEMA,
        bucket_key="conv_id", n_buckets=8,  # different layout on purpose
        properties={"merge_mode": "mor"},
    )
    merge_change_batch(dst, feed, batch_id=0)

    def final(t):
        return [
            tuple(r)
            for r in read_transcripts(t).orderBy("conv_id", "turn_idx").collect()
        ]

    assert final(dst) == final(src)
    # and an INCREMENTAL export window applies cleanly on top of a copy that
    # already has the prefix (the chained-tail shape)
    mid_version = 2  # after batch 0's commit
    dst2 = LakeTable.create(
        spark, str(tmp_path / "dst2"), TRANSCRIPT_PHYSICAL_SCHEMA,
        bucket_key="conv_id", n_buckets=8, properties={"merge_mode": "mor"},
    )
    merge_change_batch(dst2, export_changefeed(src, 1, mid_version), batch_id=0)
    merge_change_batch(dst2, export_changefeed(src, mid_version), batch_id=1)
    assert final(dst2) == final(src)
