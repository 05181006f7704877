"""Time-clustered compaction: base-file rewrites sort each bucket by ts and
(optionally) split the sorted run into bounded files, so every file carries a
narrow, disjoint ts range in its manifest stats and a mid-history windowed
read opens O(window) files — not one history-spanning file per bucket.

Reference analog: the offset B-tree index serves `WHERE msg_offset > ?` pages
without scanning outside the window (SQLiteQueries.java:77-99); clustering is
the lake-scale equivalent for the TIME axis, where bucket hashing gives no
locality. Semantics guard: physical row order is inert — the clustered table
must resolve to exactly the unclustered table's rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aqueduct_core_spark.lake.merge import merge_change_batch, read_resolved
from aqueduct_core_spark.lake.table import LakeTable
from aqueduct_core_spark.maintenance import compact_table
from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA

from tests.util import ev, events_df, ts

N_BUCKETS = 4


def make_table(spark, path, **props):
    return LakeTable.create(
        spark, path, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
        n_buckets=N_BUCKETS, properties=props,
    )


def wide_history(n=400, convs=16):
    """n inserts spread over n seconds across `convs` conversations — every
    bucket's history spans the full ts range, the clustering worst case."""
    return [
        ev(i, conv=f"conv-{i % convs}", turn=i // convs, t=i) for i in range(1, n + 1)
    ]


def ingest(t, spark, events, batches=4):
    step = (len(events) + batches - 1) // batches
    for b in range(batches):
        chunk = events[b * step : (b + 1) * step]
        if chunk:
            merge_change_batch(t, events_df(spark, chunk), batch_id=b)


def sorted_rows(df):
    return sorted(
        tuple(r) for r in df.select("conv_id", "turn_idx", "text", "ts", "_lsn").collect()
    )


def test_clustered_compaction_splits_into_disjoint_ts_ranges(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"), **{"compaction.target_file_rows": "40"})
    ingest(t, spark, wide_history())
    compact_table(t, tombstone_retention_ts=ts(0))
    files = t.current().files
    by_bucket: dict[int, list] = {}
    rows_by_bucket: dict[int, int] = {}
    for f in files:
        assert f["kind"] == "base"
        assert f["rows"] <= 40
        by_bucket.setdefault(f["bucket"], []).append(f["stats"]["ts"])
        rows_by_bucket[f["bucket"]] = rows_by_bucket.get(f["bucket"], 0) + f["rows"]
    # exactly ceil(rows/cap) files per bucket: the sorted run chops at the cap
    for b, n_rows in rows_by_bucket.items():
        assert len(by_bucket[b]) == -(-n_rows // 40), (b, n_rows, by_bucket[b])
    assert len(files) > N_BUCKETS  # the split happened somewhere
    # and within each bucket the files' ts ranges are pairwise disjoint:
    # the per-bucket task sort makes file k's min >= file k-1's max
    for b, ranges in by_bucket.items():
        ranges.sort()
        for (_, prev_hi), (nxt_lo, _) in zip(ranges, ranges[1:]):
            assert nxt_lo >= prev_hi, (b, ranges)


def test_windowed_read_opens_only_matching_files(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"), **{"compaction.target_file_rows": "20"})
    events = wide_history()
    ingest(t, spark, events)
    compact_table(t, tombstone_retention_ts=ts(0))
    total_files = len(t.current().files)
    # a mid-history window covering ~1/8 of the ts span: ~5 files per bucket
    # each spanning ~1/5 of history, so the window touches 1-2 per bucket
    lo, hi = ts(100), ts(150)
    win = read_resolved(t, ranges={"ts": (lo, hi)})
    opened = len(set(win.inputFiles()))
    assert 0 < opened <= total_files / 2, (opened, total_files)
    # row-exactness vs the unpruned read + filter
    full = read_resolved(t).filter((F.col("ts") >= lo) & (F.col("ts") <= hi))
    assert sorted_rows(win) == sorted_rows(full)


def test_clustering_is_semantically_inert(spark, tmp_path):
    """Clustered and unclustered compaction resolve to identical tables —
    including through updates and deletes (LWW winners must not depend on
    physical row order)."""
    events = wide_history(n=300)
    # updates: re-insert a third of the turns later with new text
    events += [
        ev(1000 + i, conv=f"conv-{i % 16}", turn=i // 16, t=600 + i, text=f"upd-{i}")
        for i in range(1, 100)
    ]
    # deletes: drop a few turns
    events += [
        ev(2000 + i, op="D", conv=f"conv-{i % 16}", turn=i // 16, t=900 + i)
        for i in range(1, 30)
    ]
    t_plain = make_table(
        spark, str(tmp_path / "plain"), **{"compaction.cluster_col": ""}
    )
    t_clus = make_table(
        spark, str(tmp_path / "clus"), **{"compaction.target_file_rows": "32"}
    )
    for t in (t_plain, t_clus):
        ingest(t, spark, events)
        compact_table(t, tombstone_retention_ts=ts(0))
    assert sorted_rows(read_resolved(t_clus)) == sorted_rows(read_resolved(t_plain))
    # the clustered table really did split; the disabled one really did not
    assert len(t_clus.current().files) > len(t_plain.current().files)
