"""Consumer failover up the follow chain: a dead/stalled parent mirror makes
the ingest engine fall back to the next feed URL and still reach oracle
equality (reference PipeLoadBalancer.java:27-39 first-UP selection,
ServiceList health gating, PipeLoadBalancerIntegrationSpec shapes).
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pytest

from aqueduct_core_spark.feedgen import generate_change_feed, write_segments
from aqueduct_core_spark.lake.table import LakeTable
from aqueduct_core_spark.maintenance import CompactionPolicy
from aqueduct_core_spark.oracle import replay
from aqueduct_core_spark.registry import NoAccessibleService, ServiceList
from aqueduct_core_spark.streaming.engine import IngestEngine
from aqueduct_core_spark.transcripts import read_transcripts

from tests.util import ev, events_df


def build_mirrors(spark, tmp_path, n_events=2400, fmt="parquet"):
    """cloud = full feed; parent = a PARTIAL mirror (stopped mid-replication,
    i.e. froze after the first half of the log). Both hold write_segments'
    six LSN-range segments, as `fmt` files."""
    feed = generate_change_feed(
        spark, n_events=n_events, n_convs=60, turns_per_conv=8, seed=13, dup_frac=0.02
    )
    cloud = str(tmp_path / "cloud")
    if fmt == "parquet":
        write_segments(feed, cloud, n_segments=6)
    else:
        feed.repartitionByRange(6, "change_lsn").sortWithinPartitions(
            "change_lsn"
        ).write.format(fmt).save(cloud)
    parent = str(tmp_path / "parent")
    os.makedirs(parent)
    segs = sorted(f for f in os.listdir(cloud) if f.endswith(f".{fmt}"))
    for f in segs[: len(segs) // 2]:
        shutil.copy(os.path.join(cloud, f), os.path.join(parent, f))
    return feed, parent, cloud


def oracle_view(spark, feed):
    return [tuple(r.values()) for r in replay([e.asDict() for e in feed.collect()])]


def view(spark, root):
    t = LakeTable(spark, root)
    return [
        tuple(r) for r in read_transcripts(t).orderBy("conv_id", "turn_idx").collect()
    ]


def test_service_list_first_up_and_update():
    s = ServiceList(["p", "q", "cloud"])
    assert s.first_up() == "p"
    s.mark_down("p")
    assert s.first_up() == "q"
    assert s.following() == ["q", "cloud"]
    # re-registration keeps known health
    s.update(["p", "r", "cloud"])
    assert s.first_up() == "r"
    s.mark_down("r")
    s.mark_down("cloud")
    with pytest.raises(NoAccessibleService):
        s.first_up()


@pytest.mark.parametrize("fmt", ["parquet", "json"])
def test_stalled_parent_fails_over_to_cloud(spark, tmp_path, fmt):
    feed, parent, cloud = build_mirrors(spark, tmp_path, fmt=fmt)
    eng = IngestEngine(
        spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"), n_buckets=8, merge_mode="mor"
    )
    services = ServiceList([parent, cloud])
    rounds = eng.tail(services, max_rounds=8, fmt=fmt)
    events = [r["event"] for r in rounds]
    assert any(e.startswith("stalled->failover") for e in events)
    assert services.following() == [cloud]  # parent marked down
    assert view(spark, eng.table_root) == oracle_view(spark, feed)


def test_dead_parent_path_fails_over(spark, tmp_path):
    feed, parent, cloud = build_mirrors(spark, tmp_path)
    shutil.rmtree(parent)  # parent died entirely: reads raise
    eng = IngestEngine(
        spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"), n_buckets=8, merge_mode="mor"
    )
    services = ServiceList([parent, cloud])
    rounds = eng.tail(services, max_rounds=8)
    assert rounds[0]["event"] == "error->down"
    assert view(spark, eng.table_root) == oracle_view(spark, feed)


def test_parent_killed_mid_replay(spark, tmp_path):
    """Drain the live parent first, then kill it AND let the cloud move ahead:
    the engine detects the stall, switches, and converges — exactly-once
    across the switch (no duplicate rows, LWW-consistent final state)."""
    feed, parent, cloud = build_mirrors(spark, tmp_path)
    eng = IngestEngine(
        spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"), n_buckets=8, merge_mode="mor"
    )
    services = ServiceList([parent, cloud])
    # phase 1: parent alive, drains its half cleanly; cloud not yet ahead
    # (emulated by running failover against parent only)
    eng.run(parent, max_files_per_trigger=2)
    assert eng.metrics.events_seen > 0
    # phase 2: parent dies (no new segments ever); full chain failover
    rounds = eng.tail(services, max_rounds=8)
    assert any(e.startswith("stalled->failover") for e in [r["event"] for r in rounds])
    assert view(spark, eng.table_root) == oracle_view(spark, feed)


def test_no_accessible_service_raises(spark, tmp_path):
    eng = IngestEngine(spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"), n_buckets=8)
    services = ServiceList([str(tmp_path / "missing")])
    # sole mirror errors, gets marked down, and the next selection raises
    with pytest.raises(NoAccessibleService):
        eng.tail(services, max_rounds=3)
    assert services.following() == []


def test_registry_follow_chain_feeds_failover(spark, tmp_path):
    """End-to-end tie: the registry tree's requested_to_follow chain IS the
    ServiceList an ingest node consumes — when its parent mirror dies, the
    chain's next hop (here: the cloud) takes over and the node converges."""
    from aqueduct_core_spark.registry import NodeGroup, RegistryNode, Status

    feed, parent_dir, cloud_dir = build_mirrors(spark, tmp_path)
    # a 2-node group: node-a is the root (follows cloud), node-b follows a
    group = NodeGroup(cloud_url=cloud_dir)
    group.register(RegistryNode(host="node-a", local_url=parent_dir, status=Status.OK))
    group.register(RegistryNode(host="node-b", local_url=str(tmp_path / "b-local")))
    chain = group.follow_chain("node-b")
    assert chain == [parent_dir, cloud_dir]  # parent first, cloud last

    eng = IngestEngine(
        spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"), n_buckets=8, merge_mode="mor"
    )
    services = ServiceList(chain)
    rounds = eng.tail(services, max_rounds=8)
    assert any(e.startswith("stalled->failover") for e in [r["event"] for r in rounds])
    assert view(spark, eng.table_root) == oracle_view(spark, feed)


def test_recovered_primary_is_revived_and_reselected(spark, tmp_path):
    """A mirror marked DOWN after a read error must be re-probed and revived
    once it is reachable AND ahead of the applied watermark (reference
    PipeServiceInstance health-checks dead services back to UP) — a recovered
    primary earlier in the follow chain is re-selected instead of being dead
    forever. Also pins the revisited sub-engine's replay-floor refresh."""
    feed, partial, full = build_mirrors(spark, tmp_path)
    hidden = full + ".hidden"
    os.rename(full, hidden)  # primary dead at start
    eng = IngestEngine(
        spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"), n_buckets=8, merge_mode="mor"
    )
    services = ServiceList([full, partial])
    rounds1 = eng.tail(services, max_rounds=8)
    assert rounds1[0]["event"] == "error->down"
    assert services.following() == [partial]  # primary down, fallback carried us
    hw_after_partial = eng.high_watermark()
    assert hw_after_partial > 0

    os.rename(hidden, full)  # primary recovers, holding data beyond our watermark
    rounds2 = eng.tail(services, max_rounds=8)
    assert rounds2[0]["url"] == full  # revived and re-selected first in the chain
    assert full in services.following()
    # the revisit drains the primary from the applied watermark, not from the
    # floor it had when its first read failed
    assert rounds2[0]["min_lsn"] >= hw_after_partial
    assert view(spark, eng.table_root) == oracle_view(spark, feed)


def test_mirror_sub_engines_keep_dead_letter_sink_and_compaction(spark, tmp_path):
    """A mirror drains through the engine's own dead-letter sink, compaction
    policy and metrics: a malformed event on the followed mirror lands in the
    quarantine instead of the merge, over-threshold buckets get folded, and
    every batch is counted on the one engine."""
    clean = [ev(i, conv=f"c{i % 4}", turn=i % 3, t=i) for i in range(1, 41)]
    mirror = str(tmp_path / "mirror")
    events_df(spark, clean).repartition(3).write.parquet(mirror)
    events_df(spark, [ev(41, op="X", conv="cX", t=41)]).write.mode("append").parquet(mirror)

    dlq = str(tmp_path / "dlq")
    eng = IngestEngine(
        spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"), n_buckets=4,
        quarantine_dir=dlq,
        compaction_policy=CompactionPolicy(max_delta_files_per_bucket=1, n_jobs=1),
    )
    eng.tail(ServiceList([mirror]), max_rounds=4, max_files_per_trigger=1)
    eng.close()

    assert os.path.isdir(dlq)
    q = spark.read.parquet(dlq)
    assert [(r["change_lsn"], r["_reason"]) for r in q.collect()] == [(41, "bad_op")]
    assert eng.metrics.events_quarantined == 1
    assert eng.compactions_triggered > 0
    assert sum(eng.metrics.per_batch_rows) == eng.metrics.events_seen > 0
    assert eng.metrics.last_batch_id >= 0
    assert view(spark, eng.table_root) == [tuple(r.values()) for r in replay(clean)]


def _append_files(spark, feed, events, per_file):
    """Append `events` to `feed` as one parquet file per `per_file` events."""
    for i in range(0, len(events), per_file):
        events_df(spark, events[i : i + per_file]).coalesce(1).write.mode(
            "append"
        ).parquet(feed)


def _events(lo, hi):
    return [ev(i, "I" if i < 10 else "U", conv=f"c{i % 3}", turn=i % 4, t=i)
            for i in range(lo, hi)]


def test_pipe_bootstrap_clears_mirror_watermarks(spark, tmp_path):
    """PIPE drops the mirror checkpoints with the root one, so it must drop
    their writers' txn watermarks too: a fresh tail restarts the mirror's
    batch ids at 0, and a stale watermark would skip the new events."""
    m = str(tmp_path / "m")
    first, second = _events(1, 21), _events(21, 41)
    _append_files(spark, m, first, 5)
    mk = lambda: IngestEngine(spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"), n_buckets=4)
    eng = mk()
    eng.tail(ServiceList([m]), max_files_per_trigger=1)  # batches 0..3
    eng.bootstrap("PIPE")
    eng.close()
    _append_files(spark, m, second, 5)
    eng2 = mk()
    eng2.tail(ServiceList([m]), max_files_per_trigger=4)  # batches 0, 1
    eng2.close()
    assert eng2.metrics.batches_skipped == 0
    assert view(spark, eng2.table_root) == [tuple(r.values()) for r in replay(first + second)]


def test_provider_bootstrap_then_tail_replays_mirror(spark, tmp_path):
    """After PIPE_AND_PROVIDER the table is empty again: the mirror's replay
    floor must come from that empty table, not from before the reset."""
    m = str(tmp_path / "m")
    events = _events(1, 21)
    _append_files(spark, m, events, 5)
    eng = IngestEngine(spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"), n_buckets=4)
    eng.tail(ServiceList([m]), max_files_per_trigger=2)
    eng.bootstrap("PIPE_AND_PROVIDER")
    eng.tail(ServiceList([m]), max_files_per_trigger=2)
    eng.close()
    assert view(spark, eng.table_root) == [tuple(r.values()) for r in replay(events)]


def test_restarted_tail_resumes_mirror_checkpoint(spark, tmp_path):
    """A fresh engine on the same checkpoint_dir resumes a mirror where the
    last one stopped: same mirror-<md5(url)> checkpoint, same writer id,
    only the newly arrived segments' batches run."""
    m = str(tmp_path / "m")
    ckpt = str(tmp_path / "ckpt")
    first, second = _events(1, 16), _events(16, 26)
    _append_files(spark, m, first, 5)
    a = IngestEngine(spark, str(tmp_path / "tbl"), ckpt, n_buckets=4)
    a.tail(ServiceList([m]), max_files_per_trigger=1)  # batches 0..2
    a.close()
    _append_files(spark, m, second, 5)

    b = IngestEngine(spark, str(tmp_path / "tbl"), ckpt, n_buckets=4)
    b.tail(ServiceList([m]), max_files_per_trigger=1)
    b.close()
    assert len(b.metrics.per_batch_rows) == 2  # only the two new segments
    assert b.metrics.last_batch_id == 4  # batch ids continue from the checkpoint
    mirror_dir = f"mirror-{hashlib.md5(m.encode()).hexdigest()[:10]}"
    assert [d for d in os.listdir(ckpt) if d.startswith("mirror-")] == [mirror_dir]
    writer = "cdc-" + hashlib.md5(os.path.join(ckpt, mirror_dir).encode()).hexdigest()[:10]
    assert writer in LakeTable(spark, b.table_root).current().txn
    assert view(spark, b.table_root) == [tuple(r.values()) for r in replay(first + second)]
