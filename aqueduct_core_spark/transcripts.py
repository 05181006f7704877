"""User-facing views and invariants over the transcript lake table.

All views go through read_resolved: buckets that compaction folded are
already resolved (no extra cost); buckets holding delta files get their LWW
resolution + cascade applied here over base ∪ delta files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aqueduct_core_spark.lake.merge import read_resolved
from aqueduct_core_spark.lake.table import LakeTable


def read_transcripts(table: LakeTable, version: int | None = None) -> DataFrame:
    """The live transcript view (exact `input_hint` shape + any evolved columns):
    engine metadata columns and sentinel/tombstone rows filtered out."""
    df = read_resolved(table, version=version)
    user_cols = [c for c in df.columns if not c.startswith("_")]
    return (
        df.filter((F.col("turn_idx") >= 0) & (~F.col("_deleted")))
        .select(*user_cols)
    )


def table_consistency_sum(table: LakeTable) -> int:
    """Sum of winning LSNs over live keys — the cheap cross-run equality invariant
    (reference: offset-consistency sum, SQLiteQueries.java:57-64)."""
    df = read_resolved(table)
    row = df.filter((~F.col("_deleted")) & (F.col("turn_idx") != -2)).agg(
        F.coalesce(F.sum("_lsn"), F.lit(0)).alias("s")
    ).collect()[0]
    return int(row["s"])


def export_changefeed(
    table: LakeTable, since_version: int, until_version: int | None = None
) -> DataFrame:
    """The table's changelog re-expressed as a CHANGE_EVENT_SCHEMA feed — the
    wire-format inverse of merge.normalize_events, so a DOWNSTREAM engine
    instance (another cluster, another system) can tail this table exactly
    like the source feed: the reference's node-serves-/pipe-to-other-nodes
    hierarchy (HttpPipeClient.java:36-63 tails a parent node's pipe), across
    the lake boundary instead of in-process like streaming/chain.py.

    Same compaction semantics as the reference's pipe pages: intra-batch LWW
    already collapsed superseded versions at write, so the export carries the
    winner per (key, batch) — replaying it reproduces the same final state
    (idempotent LWW), not necessarily the same intermediate event count.
    Deletes export as op='D' (the pipe's `data IS NULL` message); the
    conversation-delete cascade sentinel (turn_idx = -2) is dropped — ingest
    re-derives it from the conversation 'D' event with the same (ts, lsn).
    routing_id / event_size are not persisted in the table and export NULL."""
    from aqueduct_core_spark.lake.merge import read_changes
    from aqueduct_core_spark.schema import (
        CONV_DELETE_SENTINEL_TURN_IDX,
        CONV_SENTINEL_TURN_IDX,
    )

    d = read_changes(table, since_version, until_version)
    is_conv = F.col("turn_idx") == F.lit(CONV_SENTINEL_TURN_IDX)
    return d.filter(F.col("turn_idx") != F.lit(CONV_DELETE_SENTINEL_TURN_IDX)).select(
        F.col("_lsn").alias("change_lsn"),
        F.when(F.col("_deleted"), F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.when(is_conv, F.lit("conversation")).otherwise(F.lit("turn")).alias("entity"),
        F.col("conv_id"),
        F.when(is_conv, F.lit(None).cast("int"))
        .otherwise(F.col("turn_idx"))
        .alias("turn_idx"),
        F.col("role"),
        F.col("text"),
        F.col("tool"),
        F.col("ts"),
        F.lit(None).cast("long").alias("routing_id"),
        F.lit(None).cast("int").alias("event_size"),
    )
