"""spark-submit entrypoint for the ingest engine.

Usage (local or cluster — identical code path, the master/executors come from
spark-submit):

    spark-submit --py-files aqueduct_core_spark.zip \\
        -m aqueduct_core_spark ingest \\
        --log /data/change_log --table /lake/transcripts \\
        --checkpoint /ckpt/transcripts --buckets 256 \\
        --max-files-per-trigger 64 [--continuous 30s] [--normalize]

    # the tail loop: failover over a follow chain, Retry-After pacing
    python -m aqueduct_core_spark ingest --follow /mirror/a,/cloud/feed \
        --adaptive --table /lake/transcripts --checkpoint /ckpt/transcripts

    python -m aqueduct_core_spark compact --table /lake/transcripts \\
        --retain-tombstones-until "2024-01-01 00:00:00"

    python -m aqueduct_core_spark status --table /lake/transcripts
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(app).config("spark.sql.session.timeZone", "UTC")
    # master comes from spark-submit on a cluster; default local for dev
    return b.config("spark.sql.adaptive.enabled", "true").getOrCreate()


def cmd_ingest(args) -> int:
    from aqueduct_core_spark.streaming.engine import IngestEngine

    if not args.log and not args.follow:
        print("ingest needs --log or --follow", file=sys.stderr)
        return 2
    spark = _spark("aqueduct-ingest")
    if getattr(args, "fs", "local") == "hadoop":
        # control plane through the Hadoop FileSystem API (the cluster path:
        # the same code drives hdfs:// and s3a:// table roots), wrapped in
        # the transient-fault retry policy a real object-store FileIO carries
        from aqueduct_core_spark.lake.fsio import HadoopFS, RetryingFS, set_fs

        set_fs(RetryingFS(HadoopFS(spark)))
    transform = None
    if args.normalize:
        from aqueduct_core_spark.functions.transforms import normalize_payload

        transform = normalize_payload
    policy = None
    if args.auto_compact_max_delta_files:
        from aqueduct_core_spark.maintenance import CompactionPolicy

        policy = CompactionPolicy(
            max_delta_files_per_bucket=args.auto_compact_max_delta_files
        )
    eng = IngestEngine(
        spark,
        table_root=args.table,
        checkpoint_dir=args.checkpoint,
        n_buckets=args.buckets,
        routing_filter=[int(x) for x in args.routing.split(",")] if args.routing else None,
        entity_filter=args.entities.split(",") if args.entities else None,
        transform=transform,
        compaction_policy=policy,
        quarantine_dir=args.quarantine_dir,
        table_properties=dict(p.split("=", 1) for p in (args.table_prop or [])),
    )
    if args.bootstrap:
        eng.bootstrap(args.bootstrap, delay_ms=args.bootstrap_delay_ms)
    rounds = []
    if args.follow or args.adaptive:
        # the tail loop: failover over an ordered follow chain (registry
        # semantics) and/or the adaptive Retry-After pacing cycle
        from aqueduct_core_spark.pacing import AdaptivePacer
        from aqueduct_core_spark.registry import ServiceList

        rounds = eng.tail(
            ServiceList(args.follow.split(",")) if args.follow else args.log,
            pacer=AdaptivePacer() if args.adaptive else None,
            max_rounds=args.max_rounds,
            max_files_per_trigger=args.max_files_per_trigger,
        )
    elif args.continuous:
        q = eng.run(
            args.log,
            max_files_per_trigger=args.max_files_per_trigger,
            available_now=False,
            processing_time=args.continuous,
        )
        q.awaitTermination()
    else:
        eng.run(args.log, max_files_per_trigger=args.max_files_per_trigger)
    print(json.dumps({"rounds": rounds,
                      "batches_applied": eng.metrics.batches_applied,
                      "events_quarantined": eng.metrics.events_quarantined,
                      "compactions_triggered": eng.compactions_triggered,
                      "pipe_state": eng.pipe_state()}))
    return 0


def cmd_compact(args) -> int:
    from aqueduct_core_spark.lake.table import LakeTable
    from aqueduct_core_spark.maintenance import compact_table

    spark = _spark("aqueduct-compact")
    stats = compact_table(
        LakeTable(spark, args.table),
        tombstone_retention_ts=args.retain_tombstones_until,
        keep_snapshots=args.keep_snapshots,
    )
    print(json.dumps({"version": stats.version, "removed_snapshots": stats.removed_snapshots}))
    return 0


def cmd_status(args) -> int:
    from aqueduct_core_spark.lake.table import LakeTable

    spark = _spark("aqueduct-status")
    snap = LakeTable(spark, args.table).current()
    rows_known = [f["rows"] for f in snap.files if f.get("rows")]
    print(
        json.dumps(
            {
                "version": snap.version,
                "files": len(snap.files),
                "delta_files": sum(1 for f in snap.files if f.get("kind") == "delta"),
                # physical rows from manifest stats (pre-LWW-resolution; exact
                # when every file carries footer stats)
                "rows_physical": sum(rows_known) if rows_known else None,
                "pipe_state": snap.properties.get("pipe_state", "UNKNOWN"),
                "txn": snap.txn,
                "lineage": snap.properties.get("lineage", {}),
            }
        )
    )
    return 0


def cmd_changes(args) -> int:
    """Changelog page: rows appended by merge commits after --since-version —
    the CLI form of the reference's `GET /pipe/{offset}` consumption."""
    from aqueduct_core_spark.lake.merge import read_changes
    from aqueduct_core_spark.lake.table import LakeTable

    spark = _spark("aqueduct-changes")
    table = LakeTable(spark, args.table)
    until = args.until_version or table.current().version
    df = read_changes(table, since_version=args.since_version, until_version=until)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
    else:
        n = df.count()
    print(json.dumps({"rows": n, "since_version": args.since_version,
                      "until_version": until, "out": args.out}))
    return 0


def cmd_chain(args) -> int:
    """Tail a parent table into a child table (the distribution-tree edge)."""
    from dataclasses import asdict

    from aqueduct_core_spark.streaming.chain import ChainedConsumer

    spark = _spark("aqueduct-chain")
    c = ChainedConsumer(
        spark,
        parent_root=args.parent,
        table_root=args.table,
        n_buckets=args.buckets,
        writer_id=args.writer_id,
        register_offset=args.register_offset,
    )
    if args.lag_only:
        # gauge without syncing: the registry's per-node offset-lag endpoint
        print(json.dumps(asdict(c.lag())))
        return 0
    results = c.run_until_caught_up(max_syncs=args.max_syncs)
    print(
        json.dumps(
            {
                "syncs_applied": sum(1 for r in results if r.applied),
                "bootstrapped": any(r.bootstrapped for r in results),
                "parent_version": results[-1].parent_version if results else None,
                "lag": asdict(c.lag()),
            }
        )
    )
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="aqueduct_core_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest", help="tail a change log into the transcript table")
    pi.add_argument("--log", default=None, help="feed directory (or use --follow)")
    pi.add_argument("--table", required=True)
    pi.add_argument("--checkpoint", required=True)
    pi.add_argument("--buckets", type=int, default=64)
    pi.add_argument("--max-files-per-trigger", type=int, default=64)
    pi.add_argument("--continuous", default=None, help="processing-time trigger, e.g. 30s")
    pi.add_argument("--routing", default=None, help="comma-separated routing ids")
    pi.add_argument("--entities", default=None, help="comma-separated entity filter")
    pi.add_argument("--normalize", action="store_true", help="Arrow payload normalization")
    pi.add_argument(
        "--bootstrap",
        default=None,
        choices=[
            "NONE", "PROVIDER", "PIPE", "PIPE_AND_PROVIDER",
            "PIPE_WITH_DELAY", "PIPE_AND_PROVIDER_WITH_DELAY", "CORRUPTION_RECOVERY",
        ],
        help="run a bootstrap transition before ingesting",
    )
    pi.add_argument(
        "--table-prop",
        action="append",
        default=[],
        metavar="K=V",
        help="extra table property at CREATE time (repeatable), e.g. "
        "compaction.target_file_rows=4000000 to time-cluster compacted "
        "files so ts-windowed reads prune (lake.table.cluster_opts)",
    )
    pi.add_argument("--bootstrap-delay-ms", type=int, default=0)
    pi.add_argument(
        "--follow",
        default=None,
        help="comma-separated follow chain of feed mirrors (failover tail; overrides --log)",
    )
    pi.add_argument("--adaptive", action="store_true", help="adaptive Retry-After tail loop")
    pi.add_argument(
        "--fs", choices=["local", "hadoop"], default="local",
        help="manifest/data control plane: local posix ops, or the Hadoop "
        "FileSystem API (RetryingFS(HadoopFS) — the hdfs://s3a:// cluster path)",
    )
    pi.add_argument("--max-rounds", type=int, default=10)
    pi.add_argument(
        "--quarantine-dir", default=None,
        help="dead-letter sink: malformed events land here as parquet with a reason",
    )
    pi.add_argument(
        "--auto-compact-max-delta-files", type=int, default=None,
        help="self-tuning compaction: fold any bucket whose delta-file count "
        "exceeds this after a commit (manifest-stat trigger, no cron)",
    )
    pi.set_defaults(fn=cmd_ingest)

    pc = sub.add_parser("compact", help="fold deltas + purge aged tombstones")
    pc.add_argument("--table", required=True)
    pc.add_argument("--retain-tombstones-until", required=True)
    pc.add_argument("--keep-snapshots", type=int, default=2)
    pc.set_defaults(fn=cmd_compact)

    ps = sub.add_parser("status", help="snapshot/lineage/pipe-state report")
    ps.add_argument("--table", required=True)
    ps.set_defaults(fn=cmd_status)

    pg = sub.add_parser("changes", help="changelog page after a snapshot version")
    pg.add_argument("--table", required=True)
    pg.add_argument("--since-version", type=int, required=True)
    pg.add_argument("--until-version", type=int, default=None)
    pg.add_argument("--out", default=None, help="write the page as parquet here")
    pg.set_defaults(fn=cmd_changes)

    ph = sub.add_parser("chain", help="tail a parent table into a child table")
    ph.add_argument("--parent", required=True)
    ph.add_argument("--table", required=True)
    ph.add_argument("--buckets", type=int, default=64)
    ph.add_argument("--writer-id", default="chain")
    ph.add_argument("--max-syncs", type=int, default=1000)
    ph.add_argument(
        "--lag-only", action="store_true",
        help="report versions/rows-behind without syncing (offset-lag gauge)",
    )
    ph.add_argument(
        "--register-offset", action="store_true",
        help="report the applied version into the parent's consumers property "
        "so expire_snapshots(respect_consumers=True) keeps this child's "
        "resume interval alive",
    )
    ph.set_defaults(fn=cmd_chain)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
