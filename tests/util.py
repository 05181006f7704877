from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import SparkSession

from aqueduct_core_spark.schema import CHANGE_EVENT_SCHEMA


def ts(seconds: int) -> datetime:
    """Deterministic event time: base 2024-01-01 + seconds (naive UTC)."""
    return datetime(2024, 1, 1, 0, 0, 0) + __import__("datetime").timedelta(seconds=seconds)


def ev(
    lsn: int,
    op: str = "I",
    entity: str = "turn",
    conv: str = "c1",
    turn: int | None = 0,
    role: str = "user",
    text: str | None = None,
    tool: str | None = None,
    t: int | None = None,
):
    """Compact change-event literal for golden tests."""
    return {
        "change_lsn": lsn,
        "op": op,
        "entity": entity,
        "conv_id": conv,
        "turn_idx": None if entity == "conversation" else turn,
        "role": role,
        "text": None if op == "D" else (text if text is not None else f"text-{lsn}"),
        "tool": tool,
        "ts": ts(t if t is not None else lsn),
        "routing_id": 0,
        "event_size": 64,
    }


def events_df(spark: SparkSession, events: list[dict]):
    return spark.createDataFrame(
        [tuple(e[f.name] for f in CHANGE_EVENT_SCHEMA.fields) for e in events],
        CHANGE_EVENT_SCHEMA,
    )


def assert_delta_bucket_sets(table) -> None:
    """Every current-spec delta entry records exactly the buckets its file's
    rows hash to under the current spec — no more, no fewer — and each
    bucket's row count."""
    from aqueduct_core_spark.lake.table import (
        bucket_expr,
        current_spec_id,
        file_buckets,
        file_spec,
    )

    snap = table.current()
    for f in snap.files:
        if f.get("kind") != "delta" or file_spec(f) != current_spec_id(snap):
            continue
        got = {
            r["b"]: r["count"]
            for r in table.spark.read.schema(snap.schema_by_id(f["schema_id"]))
            .parquet(f["path"])
            .groupBy(bucket_expr(snap.bucket_key, snap.n_buckets).alias("b"))
            .count()
            .collect()
        }
        recorded = dict(zip(file_buckets(f), f["bucket_rows"]))
        assert file_buckets(f) == sorted(got), (f["path"], got, file_buckets(f))
        assert recorded == got, (f["path"], got, recorded)
