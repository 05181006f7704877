"""Lake-table MERGE semantics: LWW, tombstones, cascade, idempotence, evolution.

Golden behaviors ported from the reference's integration specs (see FIXTURES.md §4,
SQLiteStorageIntegrationSpec.groovy / PostgresqlStorageIntegrationSpec.groovy).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from aqueduct_core_spark.lake.merge import merge_change_batch
from aqueduct_core_spark.lake.table import LakeTable, bucket_expr, file_buckets
from aqueduct_core_spark.oracle import replay
from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA
from aqueduct_core_spark.transcripts import read_transcripts, table_consistency_sum

from tests.util import ev, events_df, ts


def make_table(spark, path, n_buckets=4):
    return LakeTable.create(
        spark, path, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id", n_buckets=n_buckets
    )


def apply_batches(spark, table, batches):
    for i, batch in enumerate(batches):
        merge_change_batch(table, events_df(spark, batch), batch_id=i)


def live_rows(table):
    return [
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
        for r in read_transcripts(table)
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]


def oracle_rows(events):
    return [
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
        for r in replay(events)
    ]


def assert_matches_oracle(spark, table, events, batches):
    apply_batches(spark, table, batches)
    assert live_rows(table) == oracle_rows(events)


def test_simple_lww(spark, tmp_table_dir):
    # reference golden case: (1,A),(2,B),(3,A) -> survivors [2,3]
    # (SQLiteStorageIntegrationSpec.groovy:710-733)
    events = [
        ev(1, conv="A", turn=0, text="v1"),
        ev(2, conv="B", turn=0, text="b"),
        ev(3, "U", conv="A", turn=0, text="v2"),
    ]
    t = make_table(spark, tmp_table_dir)
    assert_matches_oracle(spark, t, events, [events])
    rows = live_rows(t)
    assert [r[3] for r in rows] == ["v2", "b"]
    assert table_consistency_sum(t) == 2 + 3


def test_same_conv_different_turns_not_merged(spark, tmp_table_dir):
    # reference: same key different type both survive (:734-756)
    events = [ev(1, conv="A", turn=0), ev(2, conv="A", turn=1)]
    t = make_table(spark, tmp_table_dir)
    assert_matches_oracle(spark, t, events, [events])
    assert len(live_rows(t)) == 2


def test_ts_wins_over_lsn(spark, tmp_table_dir):
    # LWW tiebreak is (ts, change_lsn): an event with later ts but earlier lsn wins
    events = [
        ev(1, conv="A", turn=0, text="late-ts", t=100),
        ev(2, "U", conv="A", turn=0, text="early-ts", t=50),
    ]
    t = make_table(spark, tmp_table_dir)
    assert_matches_oracle(spark, t, events, [events])
    assert live_rows(t)[0][3] == "late-ts"


def test_tombstone_deletes_key(spark, tmp_table_dir):
    events = [
        ev(1, conv="A", turn=0),
        ev(2, conv="A", turn=1),
        ev(3, "D", conv="A", turn=0),
    ]
    t = make_table(spark, tmp_table_dir)
    assert_matches_oracle(spark, t, events, [events])
    assert [(r[0], r[1]) for r in live_rows(t)] == [("A", 1)]


def test_late_update_does_not_resurrect_tombstone(spark, tmp_table_dir):
    # late-data-safe deletes: tombstone is retained, a straggler update with an
    # older (ts, lsn) must NOT reappear (reference T5 deletion retention,
    # PostgresqlStorage.java:394-408)
    t = make_table(spark, tmp_table_dir)
    b1 = [ev(1, conv="A", turn=0, t=10)]
    b2 = [ev(3, "D", conv="A", turn=0, t=30)]
    b3 = [ev(2, "U", conv="A", turn=0, text="straggler", t=20)]  # arrives after delete
    events = b1 + b2 + b3
    assert_matches_oracle(spark, t, events, [b1, b2, b3])
    assert live_rows(t) == []


def test_conversation_delete_cascades(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    b1 = [ev(1, conv="A", turn=0, t=1), ev(2, conv="A", turn=1, t=2), ev(3, conv="B", turn=0, t=3)]
    b2 = [ev(4, "D", entity="conversation", conv="A", t=10)]
    events = b1 + b2
    assert_matches_oracle(spark, t, events, [b1, b2])
    assert [(r[0], r[1]) for r in live_rows(t)] == [("B", 0)]


def test_conversation_recreated_keeps_newer_turns(spark, tmp_table_dir):
    # delete boundary semantics: turns newer than the latest conversation delete
    # survive even if a conversation re-insert follows
    # (reference deletion compaction keeps newer events:
    #  PostgresqlStorageIntegrationSpec.groovy:284-334)
    t = make_table(spark, tmp_table_dir)
    b1 = [ev(1, conv="A", turn=0, t=1)]
    b2 = [ev(2, "D", entity="conversation", conv="A", t=10)]
    b3 = [ev(3, "I", entity="conversation", conv="A", t=20), ev(4, conv="A", turn=0, t=21)]
    events = b1 + b2 + b3
    assert_matches_oracle(spark, t, events, [b1, b2, b3])
    assert [(r[0], r[1]) for r in live_rows(t)] == [("A", 0)]
    assert live_rows(t)[0][3] == "text-4"


def test_conv_delete_then_reinsert_same_batch_is_batching_invariant(spark, tmp_table_dir):
    # the cascade boundary must survive a conversation re-insert in the SAME batch
    t1 = make_table(spark, tmp_table_dir + "-a")
    t2 = make_table(spark, tmp_table_dir + "-b")
    b1 = [ev(1, conv="A", turn=0, t=1)]
    b2 = [ev(2, "D", entity="conversation", conv="A", t=10)]
    b3 = [ev(3, "I", entity="conversation", conv="A", t=20)]
    events = b1 + b2 + b3
    # split one way
    assert_matches_oracle(spark, t1, events, [b1, b2, b3])
    # and the other (delete + reinsert together)
    assert_matches_oracle(spark, t2, events, [b1, b2 + b3])
    assert live_rows(t1) == live_rows(t2) == []


def test_duplicate_batch_replay_is_idempotent(spark, tmp_table_dir):
    # reference: PK-conflict idempotence (SQLiteStorageIntegrationSpec.groovy:250-282)
    t = make_table(spark, tmp_table_dir)
    batch = [ev(1, conv="A", turn=0), ev(2, conv="B", turn=0)]
    df = events_df(spark, batch)
    r1 = merge_change_batch(t, df, batch_id=0)
    v_after = t.current().version
    r2 = merge_change_batch(t, df, batch_id=0)  # replay of the same batch id
    assert not r1.skipped and r2.skipped
    assert t.current().version == v_after
    assert len(live_rows(t)) == 2


def test_duplicate_lsn_redelivery_within_feed(spark, tmp_table_dir):
    # the same event delivered twice (same lsn) converges to one row
    t = make_table(spark, tmp_table_dir)
    e = ev(1, conv="A", turn=0)
    b = [e, dict(e)]
    merge_change_batch(t, events_df(spark, b), batch_id=0)
    assert len(live_rows(t)) == 1


def test_multi_batch_equals_single_batch(spark, tmp_table_dir):
    import random

    rng = random.Random(7)
    events = []
    lsn = 0
    for _ in range(300):
        lsn += 1
        conv = f"c{rng.randrange(8)}"
        if rng.random() < 0.06:
            events.append(
                ev(lsn, op=rng.choice(["I", "D"]), entity="conversation", conv=conv,
                   t=lsn + rng.randrange(-5, 6))
            )
        else:
            events.append(
                ev(lsn, op=rng.choice(["I", "U", "U", "D"]), conv=conv,
                   turn=rng.randrange(6), t=lsn + rng.randrange(-5, 6))
            )
    t_one = make_table(spark, tmp_table_dir + "-one")
    t_many = make_table(spark, tmp_table_dir + "-many")
    assert_matches_oracle(spark, t_one, events, [events])
    batches = [events[i : i + 50] for i in range(0, 300, 50)]
    assert_matches_oracle(spark, t_many, events, batches)
    assert live_rows(t_one) == live_rows(t_many)


def test_bucket_pruning_rewrites_only_affected_buckets(spark, tmp_table_dir):
    # merge-on-read rewrites nothing: a batch keeps every committed file entry
    # as it is and adds delta files holding only the buckets it touched
    t = make_table(spark, tmp_table_dir, n_buckets=8)
    b1 = [ev(i, conv=f"c{i}", turn=0) for i in range(1, 33)]
    merge_change_batch(t, events_df(spark, b1), batch_id=0)
    files_before = t.current().files
    # touch one conversation only
    merge_change_batch(t, events_df(spark, [ev(100, "U", conv="c1", turn=0)]), batch_id=1)
    snap = t.current()
    paths_before = {f["path"] for f in files_before}
    assert [f for f in snap.files if f["path"] in paths_before] == files_before
    added = [f for f in snap.files if f["path"] not in paths_before]
    assert added and all(f.get("kind") == "delta" for f in added)
    c1_bucket = (
        spark.createDataFrame([("c1",)], "conv_id string")
        .select(bucket_expr("conv_id", 8))
        .first()[0]
    )
    assert {b for f in added for b in file_buckets(f)} == {c1_bucket}


def test_schema_evolution_add_column_and_widen(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    merge_change_batch(t, events_df(spark, [ev(1, conv="A", turn=0)]), batch_id=0)

    # evolve: add `model` column, widen turn_idx int->long (evolve-then-write)
    old = t.current().schema()
    new_fields = []
    for f in old.fields:
        if f.name == "turn_idx":
            new_fields.append(StructField("turn_idx", LongType(), True))
        else:
            new_fields.append(f)
    new_fields.insert(6, StructField("model", StringType(), True))
    t.evolve_schema(StructType(new_fields))

    batch = events_df(spark, [ev(2, conv="B", turn=0)]).withColumn(
        "model", F.lit("m-1")
    )
    merge_change_batch(t, batch, batch_id=1)

    out = read_transcripts(t).orderBy("conv_id").collect()
    assert [r["model"] for r in out] == [None, "m-1"]  # old rows read as NULL
    assert [type(r["turn_idx"]) for r in out] == [int, int]
    assert dict(t.current().schema()["turn_idx"].jsonValue(), )["type"] == "long"


def test_incompatible_evolution_rejected(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    old = t.current().schema()
    narrowed = StructType(
        [
            StructField(f.name, StringType(), True) if f.name == "ts" else f
            for f in old.fields
        ]
    )
    with pytest.raises(ValueError):
        t.evolve_schema(narrowed)


def test_time_travel_and_expire(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    merge_change_batch(t, events_df(spark, [ev(1, conv="A", turn=0)]), batch_id=0)
    v1 = t.current().version
    merge_change_batch(t, events_df(spark, [ev(2, "D", conv="A", turn=0)]), batch_id=1)
    assert read_transcripts(t).count() == 0
    assert read_transcripts(t, version=v1).count() == 1  # time travel
    removed = t.expire_snapshots(keep_last=1)
    assert removed >= 0
    assert read_transcripts(t).count() == 0


def test_resolve_lww_no_tombstone_join_and_sweep_not_broadcast(spark):
    """The conversation-tombstone dimension is unbounded on the MOR read path
    (every conv-delete sentinel since last compaction). Since r3 the cascade
    is a window max riding the grouping partitioning, so resolve_lww must
    plan NO join operator at all — the tombstone set can never become a
    broadcast build side because it is never a build side. Mark-and-sweep
    still joins its aged-tombstone dimension, so with the broadcast
    thresholds disabled (simulating a build side too large to broadcast) its
    plan must be a non-broadcast join; a F.broadcast() hint would override
    the threshold and keep BroadcastHashJoin (reference runs both
    server-side with no size assumption, PostgresqlStorage.java:473-488)."""
    from datetime import datetime

    from aqueduct_core_spark.lake.merge import normalize_events, resolve_lww
    from aqueduct_core_spark.operators.cdc_log import mark_and_sweep_deletions
    from aqueduct_core_spark.plans.inspect import explain_str
    from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA

    events = [
        ev(1, conv="A", turn=0),
        ev(2, "D", entity="conversation", conv="A", turn=None),
        ev(3, conv="A", turn=1),
    ]
    raw = normalize_events(events_df(spark, events), TRANSCRIPT_PHYSICAL_SCHEMA)
    sweep_df = spark.createDataFrame(
        [(1, "A", 1, 1, datetime(2000, 12, 1), "D", None),
         (2, "A", 1, 1, datetime(2000, 12, 2), "I", None)],
        "change_lsn long, conv_id string, cluster_id long, routing_id long, "
        "ts timestamp, op string, ttl timestamp",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        resolved = resolve_lww(raw)
        assert "Join" not in explain_str(resolved, "simple")  # no join AT ALL
        # semantics unchanged under the windowed plan: cascade still applies
        alive = {(r["conv_id"], r["turn_idx"]) for r in
                 resolved.filter("turn_idx >= 0 and not _deleted").collect()}
        assert alive == {("A", 1)}

        swept = mark_and_sweep_deletions(
            sweep_df, deletion_threshold_ts=datetime(2000, 12, 10),
            now_ts=datetime(2000, 12, 20), key_cols=["conv_id"],
        )
        assert "BroadcastHashJoin" not in explain_str(swept, "simple")
        # tombstone (lsn 1) marks itself and dies; lsn 2 is newer and survives
        assert [r["change_lsn"] for r in swept.collect()] == [2]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_merge_write_path_single_exchange(spark):
    """The apply path's whole resolve+write plan must cost ONE shuffle: the
    batch is repartitioned by bucket first and the LWW aggregation grouped by
    (bucket, key), which HashPartitioning(bucket) already satisfies — so
    neither the aggregation nor the bucketed write adds an exchange. The
    counterfactual (group by key alone, then repartition for the write — the
    pre-r3 shape) costs two. At 64M events per batch the difference is the
    entire batch crossing the wire a second time."""
    from aqueduct_core_spark.lake.merge import normalize_events, resolve_lww
    from aqueduct_core_spark.lake.table import BUCKET_COL, bucket_expr
    from aqueduct_core_spark.plans.inspect import count_exchanges
    from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA

    events = [ev(i, conv=f"c{i % 5}", turn=i % 3, t=i) for i in range(1, 40)]
    events.append(ev(99, "D", entity="conversation", conv="c1", turn=None, t=20))
    src = normalize_events(events_df(spark, events), TRANSCRIPT_PHYSICAL_SCHEMA)
    src = src.withColumn(BUCKET_COL, bucket_expr("conv_id", 8))

    single = resolve_lww(
        src.repartition(8, F.col(BUCKET_COL)), group_prefix=(BUCKET_COL,)
    )
    assert count_exchanges(single) == 1
    # counterfactual: the ungrouped-prefix shape re-exchanges for the LWW
    # aggregation, the cascade window, and the bucketed write (proves the
    # assertion above actually bites)
    double = resolve_lww(src).repartition(8, F.col(BUCKET_COL))
    assert count_exchanges(double) >= 2
    # grouping-key superset is semantically free: identical winner rows
    a = {tuple(r) for r in single.drop(BUCKET_COL).collect()}
    b = {tuple(r) for r in double.drop(BUCKET_COL).collect()}
    assert a == b


def test_merge_and_compaction_equal_oracle_after_single_exchange_path(spark, tmp_path):
    """End-to-end guard for the single-exchange write path: MOR ingest across
    batches, then whole-table compaction (also single-exchange via
    bucketed_output), equals the pure-Python oracle."""
    from aqueduct_core_spark.maintenance import compact_table

    t = LakeTable.create(
        spark, str(tmp_path / "t1x"), TRANSCRIPT_PHYSICAL_SCHEMA,
        bucket_key="conv_id", n_buckets=4, properties={"merge_mode": "mor"},
    )
    events = [ev(i, conv=f"c{i % 7}", turn=i % 4, t=i) for i in range(1, 120)]
    events[30] = ev(31, "D", conv="c3", turn=2, t=31)
    events[60] = ev(61, "D", entity="conversation", conv="c5", turn=None, t=61)
    apply_batches(spark, t, [events[:40], events[40:80], events[80:]])
    assert live_rows(t) == oracle_rows(events)
    compact_table(t, tombstone_retention_ts=ts(0))  # keep all tombstones
    assert live_rows(t) == oracle_rows(events)


def test_normalize_events_single_scan(spark, tmp_path):
    """normalize_events must read its input ONCE: the conversation-delete
    sentinel rows are emitted by a conditional explode inline in the scan,
    not by a filtered-union second branch (which decodes every file twice —
    conv deletes are scattered, so row-group pruning never saves the second
    pass). Pinned on a parquet input so the scan is a real FileScan."""
    from aqueduct_core_spark.lake.merge import normalize_events
    from aqueduct_core_spark.plans.inspect import explain_str

    events = [ev(i, conv=f"c{i % 3}", turn=i % 2, t=i) for i in range(1, 30)]
    events.append(ev(50, "D", entity="conversation", conv="c1", turn=None, t=50))
    events_df(spark, events).write.parquet(str(tmp_path / "feed"))
    batch = spark.read.parquet(str(tmp_path / "feed"))
    out = normalize_events(batch, TRANSCRIPT_PHYSICAL_SCHEMA)
    assert explain_str(out, "simple").count("FileScan") == 1
    # 30 events -> 30 physical rows + 1 cascade sentinel for the conv delete
    assert out.count() == 31
    sent = out.filter("turn_idx = -2").collect()
    assert len(sent) == 1 and sent[0]["conv_id"] == "c1" and sent[0]["_deleted"]
