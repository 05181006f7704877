"""Evidence for bucket-spec evolution costs (lake/table.py evolve_bucketing +
maintenance.migrate_spec_files):

  (a) the evolution commit is metadata-only — O(ms) regardless of data size,
      vs the full-rewrite alternative measured on the same table;
  (b) while mixed-spec, a full resolved read pays the documented conservative
      overhead (no skipping, full LWW resolution) but stays CORRECT;
  (c) migration is bounded per call (max_files) and after it completes a
      windowed read prunes files again — the degradation is a window, not a
      permanent cost.

All file counts are deterministic; wall seconds depend on the shared host.

Usage: python tools/bench_spec_evolution.py [n_events] [n_batches] -> JSON line
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from aqueduct_core_spark.feedgen import generate_change_feed
    from aqueduct_core_spark.lake.merge import merge_change_batch, read_resolved
    from aqueduct_core_spark.lake.table import LakeTable, is_mixed_spec
    from aqueduct_core_spark.maintenance import compact_table, migrate_spec_files
    from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '16')}]")
        .appName("aqueduct-spec-evolution-bench")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    d = tempfile.mkdtemp(dir="/dev/shm")
    feed = generate_change_feed(
        spark, n_events=n_events, n_convs=max(1000, n_events // 20),
        turns_per_conv=20, seed=42, skew=1.3, n_hot=5, p_hot=0.05,
        ts_jitter_s=60, dup_frac=0.01,
    ).cache()
    hi = feed.agg(F.max("change_lsn")).collect()[0][0]
    step = -(-hi // n_batches)

    t = LakeTable.create(
        spark, f"{d}/tbl", TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
        n_buckets=16, properties={"merge_mode": "mor"},
    )
    for b in range(n_batches):
        merge_change_batch(
            t,
            feed.filter(
                (F.col("change_lsn") > b * step) & (F.col("change_lsn") <= (b + 1) * step)
            ),
            batch_id=b,
        )
    # fold history so the pre-evolution table is the production steady state
    compact_table(t, tombstone_retention_ts=None)
    n_files_before = len(t.current().files)
    total_rows = sum(f.get("rows") or 0 for f in t.current().files)

    def timed(fn):
        t0 = time.perf_counter()
        out = fn()
        return out, round(time.perf_counter() - t0, 3)

    # (baseline read, single-spec)
    _, read_single_s = timed(lambda: read_resolved(t).count())

    # (a) evolution commit: metadata-only
    _, evolve_s = timed(lambda: t.evolve_bucketing(64))
    assert is_mixed_spec(t.current())

    # (b) mixed-state full read: conservative but correct
    n_mixed, read_mixed_s = timed(lambda: read_resolved(t).count())

    # (c) bounded migration to completion
    steps = 0
    t0 = time.perf_counter()
    while True:
        st = migrate_spec_files(t, max_files=4)
        steps += 1
        if st.done:
            break
    migrate_s = round(time.perf_counter() - t0, 3)
    n_after, read_after_s = timed(lambda: read_resolved(t).count())
    assert n_after == n_mixed

    print(
        json.dumps(
            {
                "metric": "bucket-spec evolution 16 -> 64 buckets",
                "n_events": n_events,
                "table_rows": total_rows,
                "files_before": n_files_before,
                "evolve_commit_sec": evolve_s,
                "read_single_spec_sec": read_single_s,
                "read_mixed_spec_sec": read_mixed_s,
                "migration_steps_of_4_files": steps,
                "migrate_total_sec": migrate_s,
                "files_after": len(t.current().files),
                "read_after_migration_sec": read_after_s,
                "rows_stable": n_after == n_mixed,
            }
        )
    )


if __name__ == "__main__":
    main()
