"""End-to-end CLI rehearsal at bench scale: one spark-submit-shaped run that
composes the streaming features — adaptive Retry-After pacing + consumer
failover up a follow chain with an injected mirror failure — and verifies the
final table against an independent one-shot batch resolution of the same feed
(consistency-sum + live-row-count equality).

What it does:
  1. generates a deterministic change feed (seed 42) into tmpfs segments;
  2. cloud mirror = the full feed; primary mirror = a PARTIAL copy (stopped
     replicating mid-log — the injected failure);
  3. runs the REAL CLI as a subprocess:
       python -m aqueduct_core_spark ingest --follow <primary>,<cloud>
              --adaptive --buckets 64 ...
     (the same invocation documented in README; on a cluster swap `python -m`
     for `spark-submit --py-files aqueduct_core_spark.zip -m`);
  4. checks the run failed over (stalled->failover event present), then
     compares consistency sum + live rows against a direct batch resolution
     (normalize -> resolve_lww over the raw feed — no streaming machinery).

AQ_REHEARSAL_FS=hadoop runs the CLI with --fs hadoop: the whole ingest +
failover drives its manifest/data control plane through
set_fs(RetryingFS(HadoopFS)) — the control-plane parity claim exercised at
replay scale, not just the lifecycle unit test (tests/test_hadoop_fs.py).

Usage: python tools/rehearsal_e2e.py [n_events]   -> one JSON line, exit 0/1
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    n_segments = int(os.environ.get("AQ_BENCH_SEGMENTS", "128"))

    from pyspark.sql import SparkSession

    from aqueduct_core_spark.feedgen import generate_change_feed, write_segments

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("aqueduct-rehearsal")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(
        prefix="aq_rehearsal_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    try:
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
        cloud = os.path.join(work, "cloud")
        write_segments(feed, cloud, n_segments=n_segments)
        # injected failure: the primary froze after replicating half the log
        primary = os.path.join(work, "primary")
        os.makedirs(primary)
        segs = sorted(f for f in os.listdir(cloud) if f.endswith(".parquet"))
        for f in segs[: len(segs) // 2]:
            os.link(os.path.join(cloud, f), os.path.join(primary, f))

        table = os.path.join(work, "tbl")
        ckpt = os.path.join(work, "ckpt")
        cli = [
            sys.executable, "-m", "aqueduct_core_spark", "ingest",
            "--follow", f"{primary},{cloud}",
            "--adaptive",
            "--table", table,
            "--checkpoint", ckpt,
            "--buckets", "64",
            "--max-files-per-trigger", "64",
            "--max-rounds", "12",
        ]
        fs_kind = os.environ.get("AQ_REHEARSAL_FS", "local")
        if fs_kind != "local":
            cli += ["--fs", fs_kind]
        env = dict(os.environ)
        env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
        # what spark-submit's --master/--driver-memory flags provide on a
        # cluster; the CLI itself deliberately sets neither (it inherits the
        # submit environment)
        env["PYSPARK_SUBMIT_ARGS"] = (
            f"--master local[{cpus}] --driver-memory "
            f"{os.environ.get('AQ_BENCH_DRIVER_MEM', '24g')} pyspark-shell"
        )
        t0 = time.perf_counter()
        proc = subprocess.run(cli, env=env, cwd=REPO, capture_output=True, text=True, timeout=3600)
        wall = round(time.perf_counter() - t0, 3)
        if proc.returncode != 0:
            print(json.dumps({"ok": False, "stage": "cli", "stderr": proc.stderr[-6000:]}))
            return 1
        cli_out = json.loads(
            [l for l in proc.stdout.strip().splitlines() if l.startswith("{")][-1]
        )
        events = [r["event"] for r in cli_out["rounds"]]
        failed_over = any(e.startswith("stalled->failover") for e in events)
        paced = any("interval_ms" in r for r in cli_out["rounds"])

        # independent check: one-shot batch resolution of the raw feed (no
        # streaming/checkpoint/failover machinery involved)
        from pyspark.sql import functions as F

        from aqueduct_core_spark.lake.merge import normalize_events, resolve_lww
        from aqueduct_core_spark.lake.table import LakeTable
        from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA
        from aqueduct_core_spark.transcripts import read_transcripts, table_consistency_sum

        raw = spark.read.parquet(cloud)
        resolved = resolve_lww(normalize_events(raw, TRANSCRIPT_PHYSICAL_SCHEMA))
        live = resolved.filter((~F.col("_deleted")) & (F.col("turn_idx") != -2))
        expect = live.agg(
            F.coalesce(F.sum("_lsn"), F.lit(0)).alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        expect_user_rows = live.filter(F.col("turn_idx") >= 0).count()

        t = LakeTable(spark, table)
        got_sum = table_consistency_sum(t)
        got_rows = read_transcripts(t).count()

        result = {
            "fs": fs_kind,
            "ok": bool(
                failed_over
                and paced
                and got_sum == int(expect["s"])
                and got_rows == expect_user_rows
                and cli_out["pipe_state"] == "UP_TO_DATE"
            ),
            "n_events": n_events,
            "cli_wall_sec": wall,
            "events_per_sec": round(n_events / wall, 1),
            "failed_over": failed_over,
            "adaptive_paced": paced,
            "pipe_state": cli_out["pipe_state"],
            "consistency_sum": {"engine": got_sum, "batch_oracle": int(expect["s"])},
            "live_rows": {"engine": got_rows, "batch_oracle": expect_user_rows},
            "rounds": events,
        }
        print(json.dumps(result))
        return 0 if result["ok"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
