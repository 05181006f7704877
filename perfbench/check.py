"""Inputs and correctness checks of the catch-up workload.

The change feed comes from ``feedgen.generate_change_feed``; it is cut into
LSN-ordered parquet segments here. The expected final state is recomputed
independently in DuckDB over the same segment files (the semantics of
``oracle.py``: last writer wins by (ts, change_lsn), tombstone winners are
absent, a conversation delete removes every older turn) and compared with the
engine's view by an order-insensitive digest, also computed in DuckDB.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

FEED_SHAPE = dict(turns_per_conv=20, skew=1.3, n_hot=5, p_hot=0.05, ts_jitter_s=60, dup_frac=0.01)


def write_feed(spark, out_dir: str, n_segments: int, seg_events: int, n_convs: int,
               seed: int) -> list[dict]:
    """Generate one feed and cut it into `n_segments` LSN-ordered parquet
    segments in `out_dir`. Returns the segment descriptors
    {path, rows, max_lsn: {routing partition: lsn}}."""
    from aqueduct_core_spark.feedgen import generate_change_feed

    feed = generate_change_feed(
        spark, n_events=n_segments * seg_events, n_convs=n_convs, seed=seed, **FEED_SHAPE
    )
    tbl = feed.toArrow().sort_by("change_lsn")
    step = -(-tbl.num_rows // n_segments)
    os.makedirs(out_dir, exist_ok=True)
    segs = []
    for k in range(n_segments):
        seg = tbl.slice(k * step, step)
        path = os.path.join(out_dir, f"seg-{k:05d}.parquet")
        pq.write_table(seg, path)
        hw = seg.group_by("routing_id").aggregate([("change_lsn", "max")])
        segs.append({
            "path": path,
            "rows": seg.num_rows,
            "max_lsn": dict(zip(hw["routing_id"].to_pylist(), hw["change_lsn_max"].to_pylist())),
        })
    return segs


def visible_at(table, segs: list[dict]) -> list[float | None]:
    """Per segment, the commit time of the first table version whose lineage
    high-watermarks cover every routing partition of the segment."""
    marks = []
    for v in table.versions():
        snap = table.snapshot_at(v)
        lin = snap.properties.get("lineage", {})
        marks.append((snap.committed_at, {int(p): x["high_watermark_lsn"] for p, x in lin.items()}))
    out = []
    for seg in segs:
        out.append(next(
            (t for t, hw in marks
             if all(hw.get(p, -1) >= lsn for p, lsn in seg["max_lsn"].items())),
            None,
        ))
    return out


ORACLE_SQL = """
WITH ev AS (
  SELECT change_lsn, op, conv_id, turn_idx, role, text, tool, ts, entity,
         CASE WHEN entity = 'conversation' THEN -1 ELSE turn_idx END AS k
  FROM read_parquet('{glob}')),
win AS (
  SELECT * FROM ev
  QUALIFY row_number() OVER (PARTITION BY conv_id, k ORDER BY ts DESC, change_lsn DESC) = 1),
cdel AS (
  SELECT conv_id, ts AS dts, change_lsn AS dlsn FROM ev
  WHERE entity = 'conversation' AND op = 'D'
  QUALIFY row_number() OVER (PARTITION BY conv_id ORDER BY ts DESC, change_lsn DESC) = 1)
SELECT w.conv_id, w.turn_idx, w.role, w.text, w.tool, w.ts
FROM win w LEFT JOIN cdel d ON w.conv_id = d.conv_id
WHERE w.k >= 0 AND w.op <> 'D'
  AND (d.dts IS NULL OR w.ts > d.dts OR (w.ts = d.dts AND w.change_lsn > d.dlsn))
"""


VIEW_COLUMNS = ["conv_id", "role", "text", "tool", "ts", "turn_idx"]
# (row count, order-insensitive digest); ts compares as epoch microseconds
DIGEST_SQL = """
SELECT count(*), coalesce(sum(hash(conv_id, role, text, tool, epoch_us(ts),
                                   CAST(turn_idx AS BIGINT))), 0) % 18446744073709551616
FROM ({rel})"""


def _digest(con, rel: str) -> tuple[int, str]:
    n, h = con.sql(DIGEST_SQL.format(rel=rel)).fetchone()
    return int(n), f"{int(h):016x}"


def oracle_digest(seg_dir: str) -> tuple[int, str]:
    """Digest of the expected final view of every segment in `seg_dir`."""
    import duckdb

    with duckdb.connect() as con:
        con.execute("SET TimeZone = 'UTC'")
        return _digest(con, ORACLE_SQL.format(glob=os.path.join(seg_dir, "*.parquet")))


def view_digest(tbl: pa.Table) -> tuple[int, str]:
    """Digest of an engine view; a view with other columns never matches."""
    import duckdb

    if sorted(tbl.column_names) != VIEW_COLUMNS:
        return tbl.num_rows, f"columns {sorted(tbl.column_names)}"
    with duckdb.connect() as con:
        con.execute("SET TimeZone = 'UTC'")
        con.register("view", tbl)
        return _digest(con, "SELECT * FROM view")
