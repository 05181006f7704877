"""Benchmark harness: headline queries + CDC replay throughput.

Prints ONE JSON line:
  {"metric": ..., "value": <total headline seconds>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "cdc_replay": {"events": N, "sec": t, "events_per_sec": r}}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     AQ_BENCH_EVENTS (replay feed size, default 1_000_000),
     AQ_BENCH_SKIP_REPLAY=1 to skip the replay stage.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _burn(_):
    import time as _t

    t0 = _t.time()
    x = 0
    while _t.time() - t0 < 0.25:
        x += 1
    return x


def effective_cpus(requested: int) -> int:
    """Calibrate how many cores this host REALLY delivers (virtualized hosts
    oversubscribe vCPUs: this box advertises 32 but per-thread throughput
    collapses above ~16). Short multiprocessing burns pick the largest count
    whose per-process throughput holds >= 70% of the small-count baseline —
    the same sizing call a cluster operator makes per executor."""
    import multiprocessing as mp

    burn = _burn
    candidates = [c for c in (4, 8, 16, 32, 64) if c <= requested]
    if not candidates or requested <= 4:
        return requested
    baseline = None
    best = candidates[0]
    for c in candidates:
        with mp.Pool(c) as pool:
            per_proc = sum(pool.map(burn, range(c))) / c
        if baseline is None:
            baseline = per_proc
            best = c
        elif per_proc >= 0.7 * baseline:
            best = c
        else:
            break
    return best


def _default_local_dir(min_free_bytes: int = 8 << 30) -> str:
    """tmpfs shuffle dir, guarded: /dev/shm is RAM-backed, so falling below
    the expected shuffle footprint must fall back to disk rather than OOM the
    box mid-leg (sf0.1 suite shuffle footprint is well under 8 GiB; scaling
    legs override via AQ_BENCH_LOCAL_DIR if they need more)."""
    try:
        import shutil as _sh

        if os.path.isdir("/dev/shm") and _sh.disk_usage("/dev/shm").free >= min_free_bytes:
            return "/dev/shm/aq_spark_local"
    except OSError:
        pass
    return "/tmp"


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("aqueduct-bench")
        # Shuffle blocks + spills go to tmpfs, not the shared virtual disk:
        # the feed and the sink already live in tmpfs (so storage I/O doesn't
        # dominate the compute-scaling comparison), but spark.local.dir
        # defaults to /tmp on /dev/vda — the co-tenant-contended device. A
        # 16-thread leg saturates it while a 4-thread leg does not, which
        # CAPS measured N->4N scaling below the code's actual behavior. On a
        # real cluster this is the executor-local NVMe shuffle dir. Guarded:
        # see _default_local_dir (falls back to /tmp when /dev/shm is tight).
        .config(
            "spark.local.dir",
            os.environ.get("AQ_BENCH_LOCAL_DIR", _default_local_dir()),
        )
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("AQ_BENCH_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


HEADLINE = [
    "cdc_replay_final_state",
    "cdc_compaction_survivors",
    "cdc_consistency_sum",
    "cdc_read_page",
    "cdc_hourly_rollup",
    "olap_pricing_summary",
    "olap_top_nations_revenue",
    "olap_priority_semijoin",
    "text_lang_quality",
    "text_token_counts",
    "dedup_exact_digests",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "ann_cosine_topk",
    "ann_neardup_lsh",
]


def run_headline(spark, sf_dir: str) -> dict[str, float]:
    """Times the headline set; AQ_BENCH_ALL=1 times EVERY queries() entry
    (the full-suite mode used for the sf1 scaling table in BENCH.md)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    names = list(qs) if os.environ.get("AQ_BENCH_ALL") == "1" else HEADLINE
    skip = set(filter(None, os.environ.get("AQ_BENCH_SKIP", "").split(",")))
    names = [n for n in names if n not in skip]
    out = {}
    for name in names:
        fn = qs[name]
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count()  # full execution; count avoids driver-side row transfer
        out[name] = round(time.perf_counter() - t0, 3)
        _ = n
    return out


def run_replay(spark, n_events: int, work_dir: str, cpus: int) -> dict:
    """CDC replay throughput: deterministic feed -> streaming MERGE into the
    lake table. Feed lives in tmpfs so storage I/O does not dominate and the
    local[8]-vs-local[32] comparison measures compute scaling.

    Scaling-fairness rules: the job SHAPE (bucket count, segment count, batch
    count) is identical at every parallelism — only executor threads and
    shuffle partitions change. Segments are small enough that every batch has
    more input splits than cores (a parquet file is one row group, hence one
    task; too few files would cap scan parallelism below the core count)."""
    from aqueduct_core_spark.feedgen import generate_change_feed, write_segments
    from aqueduct_core_spark.streaming.engine import IngestEngine

    n_segments = int(os.environ.get("AQ_BENCH_SEGMENTS", "128"))
    mfpt = int(os.environ.get("AQ_BENCH_MFPT", "64"))
    n_buckets = int(os.environ.get("AQ_BENCH_BUCKETS", "64"))

    # AQ_BENCH_FEED_DIR: reuse a pre-generated feed (scaling legs on an
    # oscillating shared host must be SHORT — one feedgen, many legs)
    shared = os.environ.get("AQ_BENCH_FEED_DIR")
    if shared and os.path.isdir(shared):
        log_dir = shared
    else:
        log_dir = os.path.join(work_dir, "log")
        feed = generate_change_feed(
            spark,
            n_events=n_events,
            n_convs=max(1000, n_events // 20),
            turns_per_conv=20,
            seed=42,
            skew=1.3,
            n_hot=5,
            p_hot=0.05,
            ts_jitter_s=60,
            dup_frac=0.01,
        )
        write_segments(feed, log_dir, n_segments=n_segments)

    salt = int(os.environ.get("AQ_BENCH_SALT", "0"))
    # Best-of-N (default 2): this box's co-tenant throttle oscillates on a
    # seconds scale (BENCH.md), so a single pass can under-report the code by
    # 3-4x. Each attempt ingests into a FRESH table+checkpoint (the
    # exactly-once watermark would skip re-applied batches otherwise); every
    # attempt's rate is recorded so a collapsed one is visible in-artifact.
    repeats = max(1, int(os.environ.get("AQ_BENCH_REPLAY_REPEATS", "2")))
    # AQ_BENCH_WARMUP_DIR: one UNTIMED ingest of a (smaller) feed first, so a
    # single timed attempt still runs against a JIT-warm JVM. Best-of-2 gets
    # the same effect by paying a full-size first attempt; on a shared host
    # whose healthy phases are shorter than two 64M legs, warmup+1 timed
    # attempt halves the leg while keeping the measurement warm — the shape
    # (buckets, segments/ mfpt ratio) is identical to the timed run.
    warmup_dir = os.environ.get("AQ_BENCH_WARMUP_DIR")
    if warmup_dir and os.path.isdir(warmup_dir):
        wdir = os.path.join(work_dir, "warmup")
        weng = IngestEngine(
            spark,
            table_root=os.path.join(wdir, "tbl"),
            checkpoint_dir=os.path.join(wdir, "ckpt"),
            n_buckets=n_buckets,
            salt=salt,
        )
        weng.run(warmup_dir, max_files_per_trigger=mfpt)
        shutil.rmtree(wdir, ignore_errors=True)
    attempts: list[dict] = []
    best = None
    for i in range(repeats):
        run_dir = os.path.join(work_dir, f"run{i}")
        eng = IngestEngine(
            spark,
            table_root=os.path.join(run_dir, "tbl"),
            checkpoint_dir=os.path.join(run_dir, "ckpt"),
            n_buckets=n_buckets,
            salt=salt,
        )
        t0 = time.perf_counter()
        eng.run(log_dir, max_files_per_trigger=mfpt)
        elapsed = time.perf_counter() - t0
        attempts.append(
            {"sec": round(elapsed, 3), "batches": eng.metrics.batches_applied}
        )
        if best is None or elapsed < best[0]:
            best = (elapsed, eng.metrics.batches_applied)
        shutil.rmtree(run_dir, ignore_errors=True)  # tmpfs: reclaim per attempt
    elapsed, batches = best
    return {
        "events": n_events,
        "sec": round(elapsed, 3),
        "events_per_sec": round(n_events / elapsed, 1),
        "attempts_events_per_sec": [
            round(n_events / a["sec"], 1) for a in attempts
        ],
        "batches": batches,
        "segments": n_segments,
        "buckets": n_buckets,
        "mode": "mor",
        "salt": salt,
    }


def host_health() -> dict | None:
    """Memory-bandwidth probe (tools/host_health.py) embedded in the output so
    a regressed replay number is adjudicable in-artifact: this VM shares a
    physical host, and co-tenant load caps ANY bandwidth-bound Spark job's
    throughput regardless of code (measured: the same commit's local[16] leg
    varied 62s..268s across one day). Skip with AQ_BENCH_NO_HEALTH=1."""
    if os.environ.get("AQ_BENCH_NO_HEALTH") == "1":
        return None
    try:
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
        from host_health import probe

        return probe()
    except Exception as e:  # the probe must never sink the bench itself
        return {"error": str(e)}


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    requested_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cpus = (
        requested_cpus
        if os.environ.get("AQ_BENCH_NO_CALIBRATE") == "1"
        else effective_cpus(requested_cpus)
    )
    n_events = int(os.environ.get("AQ_BENCH_EVENTS", "8000000"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else math.nan

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # JIT/codegen warmup so the first measured query isn't charged for JVM spin-up
    spark.range(1_000_000).selectExpr("sum(xxhash64(id) % 100000)").collect()
    spark.read.parquet(f"{sf_dir}/events.parquet").limit(10).collect()

    queries = (
        {} if os.environ.get("AQ_BENCH_ONLY_REPLAY") == "1" else run_headline(spark, sf_dir)
    )

    replay = None
    if os.environ.get("AQ_BENCH_SKIP_REPLAY") != "1":
        base = "/dev/shm" if os.path.isdir("/dev/shm") else None
        work = tempfile.mkdtemp(prefix="aq_bench_", dir=base)
        try:
            replay = run_replay(spark, n_events, work, cpus)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    result = {
        "metric": "headline query suite wall time (CDC + OLAP + text/dedup/ANN) "
        "plus sustained CDC replay events/sec",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "cpus_requested": requested_cpus,
    }
    if replay:
        result["cdc_replay"] = replay
    health = host_health()
    if health is not None:
        result["host_health"] = health
    print(json.dumps(result))


if __name__ == "__main__":
    main()
