"""Snapshot-versioned lake-table layer (ACID parquet + MERGE).

The target environment carries no Iceberg/Delta runtime jars, so the engine ships a
clean-room, Spark-first table format with the subset of lakehouse semantics the CDC
sink needs: atomic snapshot commits (optimistic concurrency), idempotent commits keyed
by (writer_id, batch_id) for exactly-once, hash-bucket partitioning with partition
pruning, merge-on-read MERGE, schema evolution (add column / widen type), bucket-spec
evolution (resize n_buckets on a live table with no data movement; incremental
migration via maintenance.migrate_spec_files), time travel,
and snapshot expiry. On a real cluster the same `LakeTable` API maps 1:1 onto Iceberg
(`MERGE INTO`, `ALTER TABLE ADD COLUMN`, `expire_snapshots`) — the engine's call sites
are written against this narrow interface so the swap is a one-file change.
"""

from aqueduct_core_spark.lake.table import LakeTable  # noqa: F401
