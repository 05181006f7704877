from __future__ import annotations

import random

from aqueduct_core_spark.pacing import TokenBucket, calculate_retry_after_ms


def test_retry_after_formula_reference_values():
    # retry = ceil(nodeCount / (pool / queryTime)), capped
    # 3000 nodes, pool 24, query 8 ms -> ceil(3000 / 3) = 1000 ms
    assert calculate_retry_after_ms(8, 10, node_count=3000, db_pool_size=24) == 1000
    # instant query -> 1 ms floor
    assert calculate_retry_after_ms(0, 10) == 1
    # cap respected
    assert calculate_retry_after_ms(10_000, 10, node_count=3000, db_pool_size=24,
                                    max_retry_after_ms=600_000) == 600_000


def test_empty_read_jitters_above_cap():
    rng = random.Random(1)
    vals = {calculate_retry_after_ms(5, 0, max_retry_after_ms=1000, rng=rng) for _ in range(20)}
    assert all(1000 <= v <= 2000 for v in vals)
    assert len(vals) > 1  # jittered, not constant


def test_token_bucket_gates_fast_path():
    tb = TokenBucket(capacity_per_s=2.0)
    assert tb.try_acquire(now=0.0)      # first permit
    assert not tb.try_acquire(now=0.1)  # bucket drained
    assert tb.try_acquire(now=0.7)      # refilled at 2/s
    assert not tb.try_acquire(now=0.71)


def test_adaptive_pacer_reference_semantics():
    from aqueduct_core_spark.pacing import AdaptivePacer

    # steady tailing: interval = the reference formula on the measured batch
    p = AdaptivePacer(node_count=3000, db_pool_size=24, rng=random.Random(7))
    assert p.next_interval_ms(8, 10, newest_event_age_s=0.0) == 1000
    assert p.next_interval_ms(8, 10) == 1000  # no recency signal -> no fast path
    # empty batch: cap + jitter
    p2 = AdaptivePacer(max_retry_after_ms=1000, rng=random.Random(1))
    v = p2.next_interval_ms(5, 0)
    assert 1000 <= v <= 2000
    # catching up (events older than the 6 h bootstrap threshold): fast path 0
    # while the token bucket has capacity, then back to paced
    p3 = AdaptivePacer(fast_path_permits_per_s=2.0)
    assert p3.next_interval_ms(8, 10, newest_event_age_s=7 * 3600, now=0.0) == 0
    assert p3.next_interval_ms(8, 10, newest_event_age_s=7 * 3600, now=0.1) == 1000
    assert p3.next_interval_ms(8, 10, newest_event_age_s=7 * 3600, now=0.7) == 0


def test_tail_paced_loop(spark, tmp_path):
    """The engine's adaptive tail loop honors pacer-derived intervals: each
    recorded interval equals the reference formula applied to that round's
    measured wall/rows, the final drained state equals the oracle replay, and
    the loop stops after the configured run of empty polls."""
    import math

    from aqueduct_core_spark.feedgen import generate_change_feed, write_segments
    from aqueduct_core_spark.lake.merge import read_resolved
    from aqueduct_core_spark.lake.table import LakeTable
    from aqueduct_core_spark.oracle import replay
    from aqueduct_core_spark.pacing import AdaptivePacer
    from aqueduct_core_spark.streaming.engine import IngestEngine
    from aqueduct_core_spark.transcripts import read_transcripts

    feed = generate_change_feed(
        spark, n_events=2000, n_convs=60, turns_per_conv=8, seed=11, dup_frac=0.02
    )
    log = str(tmp_path / "log")
    write_segments(feed, log, n_segments=4)
    eng = IngestEngine(
        spark,
        table_root=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=8,
        merge_mode="mor",
    )
    slept = []
    # huge bootstrap threshold -> never fast-path, always formula-paced
    pacer = AdaptivePacer(bootstrap_threshold_s=1e12, rng=random.Random(3))
    rounds = eng.tail(
        log,
        pacer=pacer,
        max_files_per_trigger=2,
        max_rounds=10,
        stop_after_empty=2,
        sleep_fn=slept.append,
    )
    # wiring: every recorded interval is the formula of that round's measures
    for r in rounds:
        if r["rows"] > 0:
            expect = min(
                math.ceil(3000 / (24 / r["wall_ms"])), 600_000
            )
            assert r["interval_ms"] == expect
        else:
            assert r["interval_ms"] >= 600_000  # cap + jitter backoff
    assert [r["interval_ms"] / 1000.0 for r in rounds[:-1]] == slept[: len(rounds) - 1]
    # terminated on the empty-poll run
    assert [r["rows"] for r in rounds[-2:]] == [0, 0]
    # final state == oracle
    t = LakeTable(spark, str(tmp_path / "tbl"))
    eng_rows = [
        (r.conv_id, r.turn_idx, r.role, r.text)
        for r in read_transcripts(t).orderBy("conv_id", "turn_idx").collect()
    ]
    ora = [
        (r["conv_id"], r["turn_idx"], r["role"], r["text"])
        for r in replay([e.asDict() for e in feed.collect()])
    ]
    assert eng_rows == ora
