"""Consumer failover up the follow chain: a dead/stalled parent mirror makes
the ingest engine fall back to the next feed URL and still reach oracle
equality (reference PipeLoadBalancer.java:27-39 first-UP selection,
ServiceList health gating, PipeLoadBalancerIntegrationSpec shapes).
"""

from __future__ import annotations

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


def build_mirrors(spark, tmp_path, n_events=2400):
    """cloud = full feed; parent = a PARTIAL mirror (stopped mid-replication,
    i.e. froze after the first half of the log)."""
    feed = generate_change_feed(
        spark, n_events=n_events, n_convs=60, turns_per_conv=8, seed=13, dup_frac=0.02
    )
    cloud = str(tmp_path / "cloud")
    write_segments(feed, cloud, n_segments=6)
    parent = str(tmp_path / "parent")
    os.makedirs(parent)
    segs = sorted(f for f in os.listdir(cloud) if f.endswith(".parquet"))
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


def test_stalled_parent_fails_over_to_cloud(spark, tmp_path):
    feed, parent, cloud = build_mirrors(spark, tmp_path)
    eng = IngestEngine(
        spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"), n_buckets=8, merge_mode="mor"
    )
    services = ServiceList([parent, cloud])
    rounds = eng.run_with_failover(services, max_rounds=8)
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
    rounds = eng.run_with_failover(services, max_rounds=8)
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
    rounds = eng.run_with_failover(services, max_rounds=8)
    assert any(e.startswith("stalled->failover") for e in [r["event"] for r in rounds])
    assert view(spark, eng.table_root) == oracle_view(spark, feed)


def test_no_accessible_service_raises(spark, tmp_path):
    eng = IngestEngine(spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"), n_buckets=8)
    services = ServiceList([str(tmp_path / "missing")])
    # sole mirror errors, gets marked down, and the next selection raises
    with pytest.raises(NoAccessibleService):
        eng.run_with_failover(services, max_rounds=3)
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
    rounds = eng.run_with_failover(services, max_rounds=8)
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
    rounds1 = eng.run_with_failover(services, max_rounds=8)
    assert rounds1[0]["event"] == "error->down"
    assert services.following() == [partial]  # primary down, fallback carried us
    hw_after_partial = eng.high_watermark()
    assert hw_after_partial > 0

    os.rename(hidden, full)  # primary recovers, holding data beyond our watermark
    rounds2 = eng.run_with_failover(services, max_rounds=8)
    assert rounds2[0]["url"] == full  # revived and re-selected first in the chain
    assert full in services.following()
    # the cached sub-engine (created before the failed first read) had a stale
    # replay floor; the revisit must lift it to the applied watermark
    assert eng._mirror_engines[full].min_lsn >= hw_after_partial
    assert view(spark, eng.table_root) == oracle_view(spark, feed)


def test_mirror_sub_engines_keep_dead_letter_sink_and_compaction(spark, tmp_path):
    """The per-mirror sub-engines inherit the parent's dead-letter sink and
    compaction policy: a malformed event on the followed mirror lands in the
    quarantine instead of the merge, over-threshold buckets get folded, and
    both counters roll up into the parent engine."""
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
    eng.run_with_failover(ServiceList([mirror]), max_rounds=4, max_files_per_trigger=1)
    eng.close()

    assert os.path.isdir(dlq)
    q = spark.read.parquet(dlq)
    assert [(r["change_lsn"], r["_reason"]) for r in q.collect()] == [(41, "bad_op")]
    assert eng.metrics.events_quarantined == 1
    assert eng.compactions_triggered > 0
    assert view(spark, eng.table_root) == [tuple(r.values()) for r in replay(clean)]
