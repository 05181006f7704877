"""MOR read-amplification curve: read-resolved latency vs delta-file count.

A merge-on-read table trades write cost (blind delta append) for read cost
(LWW resolution over base ∪ delta at every read). This measures that trade:
apply delta batches to a fixed base, time `read_resolved().count()` at
increasing delta-file counts, then compact (whole-table and per-bucket-range
parallel) and confirm the read returns to base latency. Raw results land in
BENCH_MOR_CURVE.md (BENCH.md is curated by hand).

Usage: python tools/bench_mor_curve.py [base_events] [batch_events]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from datetime import datetime

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))


def main():
    base_events = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    batch_events = int(sys.argv[2]) if len(sys.argv) > 2 else 4_000
    n_buckets = int(os.environ.get("AQ_MOR_BUCKETS", "8"))
    checkpoints = [0, 8, 64, 256]  # delta-file counts to measure at

    from pyspark.sql import SparkSession

    from aqueduct_core_spark.feedgen import generate_change_feed
    from aqueduct_core_spark.lake.merge import merge_change_batch, read_resolved
    from aqueduct_core_spark.lake.table import LakeTable
    from aqueduct_core_spark.maintenance import compact_bucket_range, compact_table
    from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA
    from host_health import probe

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("aqueduct-mor-curve")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    health = probe()

    work = tempfile.mkdtemp(prefix="aq_mor_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    try:
        feed = generate_change_feed(
            spark,
            n_events=base_events + 300 * batch_events,
            n_convs=max(1000, base_events // 20),
            turns_per_conv=20,
            seed=42,
            skew=1.3,
            n_hot=5,
            p_hot=0.05,
            ts_jitter_s=60,
            dup_frac=0.01,
        ).cache()
        feed.count()
        table = LakeTable.create(
            spark,
            os.path.join(work, "tbl"),
            TRANSCRIPT_PHYSICAL_SCHEMA,
            bucket_key="conv_id",
            n_buckets=n_buckets,
            properties={"merge_mode": "mor"},
        )
        # base: one large batch, then compact so it is all base files
        merge_change_batch(table, feed.filter(f"change_lsn <= {base_events}"), batch_id=0)
        compact_table(table, datetime(1970, 1, 1), keep_snapshots=1)

        def delta_files():
            return sum(1 for f in table.current().files if f.get("kind") == "delta")

        def timed_read():
            t0 = time.perf_counter()
            n = read_resolved(table).count()
            return round(time.perf_counter() - t0, 3), n

        curve = []
        batch_id = 1
        lsn = base_events
        for target in checkpoints:
            while delta_files() < target:
                merge_change_batch(
                    table,
                    feed.filter(f"change_lsn > {lsn} and change_lsn <= {lsn + batch_events}"),
                    batch_id=batch_id,
                )
                batch_id += 1
                lsn += batch_events
            best = min(timed_read() for _ in range(3))
            curve.append(
                {"delta_files": delta_files(), "read_sec": best[0], "rows": best[1]}
            )

        # compaction restores base-read latency; time both maintenance shapes
        t0 = time.perf_counter()
        compact_table(table, datetime(1970, 1, 1), keep_snapshots=1)
        full_compact_sec = round(time.perf_counter() - t0, 3)
        post_compact = min(timed_read() for _ in range(3))

        # rebuild the same delta pile and compact per-bucket-range in parallel
        for i in range(checkpoints[-1] // n_buckets):
            merge_change_batch(
                table,
                feed.filter(f"change_lsn > {lsn} and change_lsn <= {lsn + batch_events}"),
                batch_id=batch_id,
            )
            batch_id += 1
            lsn += batch_events
        piled = delta_files()
        from aqueduct_core_spark.maintenance import CompactionPolicy, maybe_compact

        t0 = time.perf_counter()
        maybe_compact(table, CompactionPolicy(max_delta_files_per_bucket=0, n_jobs=4))
        table.expire_snapshots(keep_last=1)
        parallel_compact_sec = round(time.perf_counter() - t0, 3)

        result = {
            "metric": "MOR read-resolved latency vs delta-file count",
            "base_events": base_events,
            "batch_events": batch_events,
            "n_buckets": n_buckets,
            "curve": curve,
            "full_compact_sec": full_compact_sec,
            "read_after_compact_sec": post_compact[0],
            "parallel_compact": {"delta_files_folded": piled, "n_jobs": 4, "sec": parallel_compact_sec},
            "cpus": cpus,
            "host_health": health,
        }
        print(json.dumps(result))

        lines = [
            "# BENCH — MOR read-amplification curve (raw run)",
            "",
            f"Base {base_events:,} events compacted to base files on a {n_buckets}-bucket",
            f"MOR table; delta batches of {batch_events:,} events appended; each read is",
            "best-of-3 `read_resolved().count()` (full LWW resolution over base ∪ delta).",
            "",
            "| delta files | read-resolved sec | rows |",
            "|---|---|---|",
        ]
        for p in curve:
            lines.append(f"| {p['delta_files']} | {p['read_sec']} | {p['rows']:,} |")
        lines += [
            "",
            f"Whole-table compaction: {full_compact_sec} s; read after compaction: "
            f"{post_compact[0]} s (back to the 0-delta point).",
            f"Per-bucket-range parallel compaction (4 jobs, {piled} delta files folded): "
            f"{parallel_compact_sec} s.",
            "",
            f"Host health at measurement: `{json.dumps(health)}`",
        ]
        with open(os.path.join(REPO, "BENCH_MOR_CURVE.md"), "w") as f:
            f.write("\n".join(lines) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
