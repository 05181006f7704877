"""Merge-on-read CDC MERGE of a change-event micro-batch into the transcript table.

This is the engine's core apply operator. It reproduces, Spark-first, the reference's
single-transaction apply + LWW compaction + tombstone semantics:

  * exactly-once / idempotent batch apply   <-> PK-conflict idempotence + atomic tx
      (pipe-storage-sqlite/.../SQLiteStorage.java:134-171,
       SQLiteStorageIntegrationSpec.groovy:250-282)
  * last-writer-wins per (conv_id, turn_idx) <-> max(msg_offset) per (msg_key, type)
      (pipe-storage-sqlite/.../SQLiteQueries.java:51-52) — tiebreak here is
      (ts, change_lsn) per BASELINE.json north_star
  * tombstones retained until compaction    <-> late-data-safe deletes
      (PostgresqlStorage.java:394-408, 473-488)
  * parent-before-child apply waves         <-> registry binary-tree hierarchy
      (registry-core/.../SubNodeGroup.java:53-65) — wave 1: conversation-level
      records, wave 2: turn records guarded by conversation tombstones

Plan shape (all distributed; driver only plans + commits the manifest):

  write  batch ──normalize──▶ repartition(bucket) ──▶ resolve_lww ──▶ delta files
           (one per write task) ──▶ atomic manifest commit (txn: batch_id)
  read   base ∪ delta (manifest-pruned) ──▶ resolve_lww: groupBy(key).max_by((ts,_lsn))
           ──▶ conversation-tombstone cascade (wave-2 guard, a window per conv)
  fold   compaction (maintenance.py) resolves a bucket the same way into base files
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aqueduct_core_spark.lake.table import (
    BUCKET_COL,
    CommitConflict,
    LakeTable,
    _file_may_match,
    bucket_expr,
    file_buckets,
    is_mixed_spec,
)
from aqueduct_core_spark.schema import (
    CONV_DELETE_SENTINEL_TURN_IDX,
    CONV_SENTINEL_TURN_IDX,
)

KEY_COLS = ["conv_id", "turn_idx"]
ORDER_COLS = ["ts", "_lsn"]  # LWW tiebreak, reference's max(msg_offset) enriched by ts


@dataclass
class MergeResult:
    batch_id: int
    skipped: bool  # True when the batch was already committed (exactly-once replay)
    version: int | None
    affected_buckets: list[int]


#: why a change event cannot be applied — NULL/garbage in a field the merge
#: semantics depend on. Anything else flows through untouched.
VALID_OPS = ("I", "U", "D")


def malformed_reason() -> "F.Column":
    """NULL for applicable events, else a short reason code. The checks mirror
    exactly what the apply path relies on: an orderable offset (change_lsn),
    a known op, a merge key (conv_id; turn_idx for turn-level events), and an
    LWW-orderable timestamp."""
    is_conv = F.col("entity") == F.lit("conversation")
    return (
        F.when(F.col("change_lsn").isNull(), F.lit("null_lsn"))
        # NULL op must be caught explicitly: ~NULL.isin(...) is NULL, and
        # WHEN(NULL) falls through — three-valued logic would wave it past
        .when(F.col("op").isNull() | ~F.col("op").isin(*VALID_OPS), F.lit("bad_op"))
        .when(F.col("conv_id").isNull() | (F.col("conv_id") == F.lit("")), F.lit("null_conv"))
        .when(~F.coalesce(is_conv, F.lit(False)) & F.col("turn_idx").isNull(), F.lit("null_turn_idx"))
        .when(F.col("ts").isNull(), F.lit("null_ts"))
    )


def split_malformed(batch_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split: (clean, quarantined). `quarantined` carries the
    original event columns plus `_reason`. A 10^10-event production feed WILL
    contain garbage; dropping it silently loses data, applying it corrupts
    LWW ordering (NULL ts/lsn are unorderable) — the reference's answer is a
    rejected-write error per message; a streaming lake engine's is a
    quarantine table. One predicate, evaluated inline in the batch scan —
    no extra shuffle."""
    reason = malformed_reason()
    return (
        batch_df.filter(reason.isNull()),
        batch_df.withColumn("_reason", reason).filter(F.col("_reason").isNotNull()),
    )


def normalize_events(batch_df: DataFrame, physical_schema) -> DataFrame:
    """Project change events onto the physical transcript row shape.

    conversation-level events take turn_idx = CONV_SENTINEL_TURN_IDX so the MERGE
    key is never NULL; `op='D'` becomes a retained `_deleted` tombstone row
    (reference: `data IS NULL` tombstone, PostgresqlStorage.java:479).
    """
    batch_cols = set(batch_df.columns)

    def project(turn_idx_expr):
        cols = []
        for f in physical_schema.fields:
            if f.name == "turn_idx":
                cols.append(turn_idx_expr.cast(f.dataType).alias("turn_idx"))
            elif f.name == "_lsn":
                cols.append(F.col("change_lsn").cast("long").alias("_lsn"))
            elif f.name == "_deleted":
                cols.append((F.col("op") == F.lit("D")).alias("_deleted"))
            elif f.name in batch_cols:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                # evolve-then-write: column added to the table, absent in this batch
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return cols

    is_conv = F.col("entity") == F.lit("conversation")
    main = F.struct(
        *project(
            F.when(is_conv, F.lit(CONV_SENTINEL_TURN_IDX)).otherwise(F.col("turn_idx"))
        )
    )
    # Conversation deletes additionally land on the cascade-boundary sentinel key,
    # so a later conversation re-insert (which wins the -1 row) cannot erase the
    # boundary that older turns must still be judged against. Emitted via a
    # conditional explode rather than a filtered-union second branch: the
    # union shape decodes the whole batch TWICE (two parquet scans of the
    # same files — conversation deletes are scattered, so row groups never
    # prune); the explode expands 1→2 rows inline in the single scan.
    sentinel = F.struct(*project(F.lit(CONV_DELETE_SENTINEL_TURN_IDX)))
    rows = F.when(is_conv & (F.col("op") == F.lit("D")), F.array(main, sentinel)).otherwise(
        F.array(main)
    )
    return batch_df.select(F.explode(rows).alias("_r")).select("_r.*")


def lww_dedup(df: DataFrame, key_cols: Sequence[str] = KEY_COLS, salt: int = 16) -> DataFrame:
    """Salted two-phase last-writer-wins dedup: one winner row per key.

    The salt pre-aggregation breaks up hot conversations (a single conv_id owning a
    large share of a batch) before the key-grouped shuffle — the north rule's
    "salted repartitioning before the merge stage". Phase 1 groups by
    (key, salt-of-lsn) with map-side partial aggregation; phase 2 reduces the at
    most `salt` candidates per key. Equivalent single-stage plan would put every
    duplicate of a hot key in one task.
    """
    row = F.struct(*[F.col(c) for c in df.columns]).alias("_row")
    ordk = F.struct(*[F.col(c) for c in ORDER_COLS]).alias("_ord")
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col("_lsn")), F.lit(salt)))
    phase1 = salted.groupBy(*key_cols, "_salt").agg(F.max_by(row, ordk).alias("_w"))
    phase2 = (
        phase1.select("_w.*")
        .groupBy(*key_cols)
        .agg(F.max_by(row, ordk).alias("_w"))
    )
    return phase2.select("_w.*")


def merge_change_batch(
    table: LakeTable,
    batch_df: DataFrame,
    batch_id: int,
    writer_id: str = "cdc",
    salt: int = 0,
    extra_txn: dict | None = None,
    lineage_rows: list[dict] | Callable[[], list[dict]] | None = None,
    pipe_state: str | None = None,
    physical: bool = False,  # batch rows are ALREADY physical transcript rows
    # (sentinels, tombstones, _lsn in place) — e.g. a parent table's changelog
    # consumed by a chained child (streaming/chain.py); skip normalize_events
) -> MergeResult:
    """Apply one micro-batch of change events. Idempotent by (writer_id, batch_id).

    The batch is appended as delta files: one groupBy(bucket, key).max_by
    resolves intra-batch duplicates in a single shuffle; cross-batch
    precedence is resolved at read time (read_resolved) and by compaction.
    Hash aggregation's map-side partial combine already collapses hot keys
    per task (each reduce key receives at most one candidate row per upstream
    task), which is the built-in form of salted pre-aggregation; pass salt > 1
    to add an explicit salted pre-collapse of the batch side for pathological
    single-key duplicate storms (millions of versions of ONE (conv_id,
    turn_idx) inside one batch)."""
    while True:
        snap = table.current()
        if snap.txn.get(writer_id, -1) >= batch_id:
            return MergeResult(batch_id, True, None, [])

        phys_schema = snap.schema()
        if physical:
            bcols = set(batch_df.columns)
            src = batch_df.select(
                *[
                    (F.col(f.name) if f.name in bcols else F.lit(None))
                    .cast(f.dataType)
                    .alias(f.name)
                    for f in phys_schema.fields
                ]
            )
        else:
            src = normalize_events(batch_df, phys_schema)
        if salt and salt > 1:
            src = lww_dedup(src, salt=salt)
        src = src.withColumn(BUCKET_COL, bucket_expr(snap.bucket_key, snap.n_buckets))
        # Merge-on-read (the reference's own shape: the edge store APPENDS
        # every message and compacts separately, SQLiteStorage.java:134-171
        # + compactUpTo). The batch is deduped within itself and appended as
        # DELTA files — no target scan, no rewrite; LWW resolution happens
        # at read time (resolve_lww) and compaction folds deltas into base.
        # Write amplification per batch: exactly the batch, nothing else.
        #
        # ONE exchange for the whole apply: repartition by bucket FIRST,
        # then group by (bucket, key) — bucket is a function of conv_id,
        # so HashPartitioning(bucket) already satisfies the aggregation's
        # ClusteredDistribution and the bucketed write needs no second
        # shuffle. (The old shape shuffled twice: groupBy(key), then
        # repartition(bucket) inside write_files — 2x the batch over the
        # wire for a dedup that barely shrinks a ~unique-key feed.)
        resolved_batch = resolve_lww(
            src.repartition(table.write_parallelism(snap), F.col(BUCKET_COL)),
            group_prefix=(BUCKET_COL,),
        )
        new_files = table.write_files(
            resolved_batch, snap, kind="delta", already_bucketed=True
        )
        affected = sorted({b for f in new_files for b in file_buckets(f)})

        txn = dict(snap.txn)
        txn[writer_id] = batch_id
        if extra_txn:
            txn.update(extra_txn)
        props = dict(snap.properties)
        if lineage_rows is not None:
            # Lineage rides in the SAME atomic commit as the data — the reference's
            # one-transaction PipeEntity contract (messages + offsets + state,
            # SQLiteStorage.java:134-171). Watermarks are monotone per partition.
            # A callable defers resolution to HERE (post-write, pre-commit), so
            # a caller may compute the lineage aggregate concurrently with the
            # merge's own write job (streaming/engine.apply_batch does).
            resolved_lineage = lineage_rows() if callable(lineage_rows) else lineage_rows
            lineage = dict(props.get("lineage", {}))
            for r in resolved_lineage:
                pid = str(r["partition_id"])
                prev = lineage.get(pid, {}).get("high_watermark_lsn", -1)
                lineage[pid] = {
                    "high_watermark_lsn": max(prev, int(r["high_watermark_lsn"])),
                    "batch_id": batch_id,
                    "applied_at": time.time(),
                }
            props["lineage"] = lineage
        if pipe_state is not None:
            props["pipe_state"] = pipe_state  # UP_TO_DATE | OUT_OF_DATE | UNKNOWN
        try:
            nxt = table.publish_next(snap, files=snap.files + new_files, txn=txn, properties=props)
            return MergeResult(batch_id, False, nxt.version, list(affected))
        except CommitConflict:
            # Three cases behind one exception (the object-store reality):
            cur = table.current()
            ours = {f["path"] for f in new_files}
            if any(f["path"] in ours for f in cur.files):
                # AMBIGUOUS SUCCESS: our manifest actually landed but the
                # storage response was lost (S3 PUT timeout) and a retry saw
                # FileExistsError. The files are LIVE — discarding them would
                # corrupt the table. Report the commit that happened.
                return MergeResult(batch_id, False, cur.version, list(affected))
            if cur.txn.get(writer_id, -1) >= batch_id:
                # The watermark says this batch is applied. Either (a) OUR
                # ambiguous-success commit landed and a concurrent compaction
                # already folded our delta files out of `cur` — they are gone
                # from the head but still referenced by retained historical
                # manifests (read_changes / snapshot_at), so deleting them
                # would break chained consumers inside the retention window —
                # or (b) a zombie twin of this writer applied the same
                # batch_id and our files are true orphans. The head manifest
                # cannot distinguish the two, so do NOT discard: a bounded
                # orphan leak in the rare twin case beats corrupting
                # retained history (expire_snapshots' orphan sweep cannot see
                # these either, but a twin requires two live instances of one
                # writer id — already out of contract).
                return MergeResult(batch_id, True, None, [])
            # genuine conflict with a different writer — our attempt's files
            # are unreferenced by any manifest (our commit never landed):
            # reclaim them and retry optimistically, same as Iceberg
            table.discard_files(new_files)
            continue


def resolve_lww(df: DataFrame, group_prefix: Sequence[str] = ()) -> DataFrame:
    """Resolve raw physical rows (possibly many versions per key) into the
    LWW-consistent row set: one winner per key by (ts, _lsn), then the
    conversation-tombstone cascade (wave-2 guard). Tombstone/sentinel rows
    survive resolution — the read view filters them; compaction purges them.

    Shared by the merge (applied within the batch at write), the read path
    (applied over base ∪ delta files), and compaction (folds deltas into base).

    `group_prefix` prepends columns that are FUNCTIONS OF the key (e.g. the
    bucket column, a hash of conv_id) to the grouping — semantically free,
    but it lets Catalyst satisfy the aggregation's ClusteredDistribution from
    an existing HashPartitioning on the prefix alone, so a caller that has
    already repartitioned by bucket pays ZERO extra exchanges here (the merge
    write path's single-shuffle plan; asserted in tests/test_lake_merge.py)."""
    group_cols = [*group_prefix, *KEY_COLS]
    payload_cols = [c for c in df.columns if c not in group_cols]
    row = F.struct(*[F.col(c) for c in payload_cols]).alias("_row")
    ordk = F.struct(*[F.col(c) for c in ORDER_COLS])
    # Key/prefix columns come from the GROUPING attributes, not from the
    # winner struct — same values (they define the group), but the grouping
    # attributes carry the input's partitioning lineage, so a caller's bucket
    # partitioning survives the aggregation (a `_w.*` re-projection would
    # sever it and force re-exchanges downstream).
    merged = (
        df.groupBy(*group_cols)
        .agg(F.max_by(row, ordk).alias("_w"))
        .select(*group_cols, *[F.col(f"_w.{c}").alias(c) for c in payload_cols])
        .select(*df.columns)
    )

    # Conversation-delete cascade: every turn older than the latest
    # conversation delete is gone; newer turns (re-created conversation)
    # survive. The latest conversation tombstone per conv is ALREADY in
    # `merged` — it is the winner of the cascade-sentinel key
    # (turn_idx = CONV_DELETE_SENTINEL_TURN_IDX), since max_by over the
    # sentinel rows IS the per-conv tombstone max. A window max over
    # (prefix, conv_id) therefore replaces the former build-side
    # aggregation + join: no second scan of the input, no join exchange
    # (HashPartitioning on the prefix satisfies the window's
    # ClusteredDistribution), no size assumption on the tombstone set — it
    # scales as a per-conv sort, unbounded-dimension-safe on the MOR read
    # path at 10^10 events.
    w = Window.partitionBy(*group_prefix, "conv_id")
    tomb = F.max(
        F.when(
            F.col("turn_idx") == F.lit(CONV_DELETE_SENTINEL_TURN_IDX),
            F.struct(F.col("ts"), F.col("_lsn")),
        )
    ).over(w)
    return (
        merged.withColumn("_tomb", tomb)
        .filter(
            (F.col("turn_idx") < F.lit(0))  # sentinel rows always survive
            | F.col("_tomb").isNull()
            | (F.struct(F.col("ts"), F.col("_lsn")) > F.col("_tomb"))
        )
        .select(*[F.col(c) for c in df.columns])
    )


def read_resolved(
    table: LakeTable,
    version: int | None = None,
    buckets=None,
    with_bucket_col: bool = False,
    ranges: dict | None = None,
    bucketed_output: bool = False,
) -> DataFrame:
    """Snapshot read with MOR resolution: raw rows if the snapshot holds only
    base files (compaction resolved them at fold time), else resolve_lww over
    base ∪ delta.

    `ranges` ({col: (lo, hi)}, either bound None) filters the RESOLVED view —
    the row filter is always applied AFTER LWW resolution, so semantics are
    identical with or without deltas. The same ranges additionally drive manifest-stats
    FILE SKIPPING, applied PER BUCKET: LWW resolution is per-key and a key
    lives in exactly one bucket, so only buckets holding live delta files
    must keep every file open (dropping an old file there could discard the
    (ts,_lsn) winner that suppresses a newer losing row and resurrect it —
    tests/test_lake_stats.py pins this at the bucket boundary). Buckets whose
    files are all base are fully resolved (a compaction fold replaces a
    bucket's whole file set in one commit), so a time/offset-
    windowed read there opens only the files that can contain matches. On a
    continuously-ingesting MOR table some bucket always has a delta; the
    per-bucket scope is what keeps windowed reads O(matching files) instead
    of O(all files) — the lake form of the reference's offset-indexed page
    read (SQLiteQueries.java:77-99 never scans outside the requested window).

    Resolution cost follows the same boundary: only the delta-holding buckets
    are shuffled through resolve_lww; fully-resolved buckets stream straight
    from their base files and union in exchange-free. On a mostly-compacted
    table the resolve shuffle is O(dirty buckets' data), not O(table).

    `bucketed_output=True` (requires with_bucket_col) returns the view
    hash-partitioned by BUCKET_COL at the table's write parallelism, with any
    needed LWW resolution grouped by (bucket, key) so the whole read-resolve
    costs ONE exchange — for writers (compaction) that will
    land the result via write_files(already_bucketed=True)."""
    if bucketed_output:
        with_bucket_col = True  # the bucketed contract includes the column
    snap = table.current() if version is None else table.snapshot_at(version)
    # Pin every read below to THIS snapshot: with version=None, letting
    # table.read re-resolve "current" could race a concurrent commit between
    # the manifest reads and mix two versions' file sets.
    ver = snap.version
    delta_buckets = {
        b
        for f in snap.files
        if f.get("kind", "base") == "delta"
        for b in file_buckets(f)
    }
    scope = (
        sorted(set(buckets))
        if buckets is not None
        else sorted({b for f in snap.files for b in file_buckets(f)})
    )
    mixed = is_mixed_spec(snap)
    if mixed:
        # Mid-bucket-spec-migration: a key's rows span two layouts, so the
        # per-bucket clean/dirty split and stats skipping are unsound (an
        # old-spec file may hold the winner that suppresses a loser in ANY
        # current-spec bucket). Degrade to full resolution with no file
        # skipping — the documented migration-window cost; ranges still
        # row-filter below. table.read() handles old-spec file inclusion and
        # row-level bucket scoping.
        dirty, clean = list(scope), []
        delta_buckets = set(scope)
        ranges_for_prune = None
    else:
        dirty = [b for b in scope if b in delta_buckets]
        clean = [b for b in scope if b not in delta_buckets]
        ranges_for_prune = ranges
    if bucketed_output:
        # writer path: one exchange over the whole scope (the write must be
        # partitioned by bucket anyway); file skipping still applies to the
        # delta-free buckets' base files via the exempt set
        df = table.read(
            buckets=buckets,
            version=ver,
            with_bucket_col=True,
            prune_ranges=ranges_for_prune,
            prune_exempt_buckets=delta_buckets,
        )
        df = df.repartition(table.write_parallelism(snap), F.col(BUCKET_COL))
        out = resolve_lww(df, group_prefix=(BUCKET_COL,)) if dirty else df
    elif not dirty:
        out = table.read(
            buckets=buckets,
            version=ver,
            with_bucket_col=with_bucket_col,
            prune_ranges=ranges_for_prune,
        )
    else:
        # Dirty buckets resolve on ONE exchange partitioned by
        # (bucket, conv_id): HashPartitioning on that pair satisfies both the
        # LWW aggregation's ClusteredDistribution (subset of
        # (bucket, conv_id, turn_idx)) and the cascade window's (exactly
        # (bucket, conv_id)), so resolution parallelism scales with key
        # cardinality, not n_buckets — one hot bucket no longer serializes
        # into one task. Partition count deliberately unpinned —
        # spark.sql.shuffle.partitions (and AQE coalescing) size the read.
        # NO file skipping on this side: every file in a dirty bucket may
        # hold a suppressing winner.
        d = table.read(
            buckets=(buckets if mixed else dirty), version=ver, with_bucket_col=True
        )
        res = resolve_lww(
            d.repartition(F.col(BUCKET_COL), F.col("conv_id")),
            group_prefix=(BUCKET_COL,),
        )
        if not with_bucket_col:
            res = res.drop(BUCKET_COL)
        # delta-free buckets: already resolved at write — no shuffle, and
        # range stats skip their base files. When the stats exclude EVERY
        # clean file (a fresh-window read on a cold table), skip the union
        # entirely: an empty subtree still costs a scheduled stage.
        clean_set = set(clean)
        clean_matches = any(
            not clean_set.isdisjoint(file_buckets(f))
            and (not ranges or _file_may_match(f, ranges))
            for f in snap.files
        )
        if clean and clean_matches:
            c = table.read(
                buckets=clean,
                version=ver,
                with_bucket_col=with_bucket_col,
                prune_ranges=ranges_for_prune,
            )
            out = res.unionByName(c)
        else:
            out = res
    if ranges:
        for col, (lo, hi) in ranges.items():
            if lo is not None:
                out = out.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                out = out.filter(F.col(col) <= F.lit(hi))
    return out


def read_changes(
    table: LakeTable, since_version: int, until_version: int | None = None
) -> DataFrame:
    """Incremental changelog read: every row appended by merge commits in
    (since_version, until_version] — the lake-native form of the reference's
    offset-paged pipe read (`GET /pipe/{offset}`, SQLiteQueries.java offset
    pages): a downstream consumer remembers the snapshot version it has
    processed and tails the table without ever rescanning it.

    Exact because every merge commit appends its
    (intra-batch LWW-resolved) rows as immutable delta files: the changelog is
    the union of delta files first referenced by each version in the interval
    — walked version-by-version so deltas that a LATER compaction already
    folded into base files are still captured. Delete events appear as
    `_deleted` tombstone rows, exactly like the pipe's `data IS NULL` messages.

    Raises ValueError on a table whose `merge_mode` property is not "mor":
    a legacy copy-on-write table (written by older builds) keeps its history
    in rewritten base files, so its changelog is undefined. Also raises when
    a manifest inside the interval was expired (`expire_snapshots`): retention
    bounds how far back a consumer may resume, same as the reference's
    compacted-away offsets."""
    added, until_snap = changed_entries(table, since_version, until_version)
    return table.read_entries(added, until_snap)


def changed_entries(
    table: LakeTable, since_version: int, until_version: int | None = None
):
    """Manifest-only half of read_changes: the delta file entries first
    referenced by each version in (since_version, until_version], plus the
    interval's end snapshot. Pure metadata (an O(commits) manifest walk) —
    also the basis of consumer lag gauges (rows-behind from the entries'
    footer row counts, no data scan). Raises ValueError exactly like
    read_changes (legacy table / empty interval / expired manifests)."""
    cur = table.current()
    until_version = cur.version if until_version is None else until_version
    if cur.properties.get("merge_mode") != "mor":
        raise ValueError("read_changes requires a merge-on-read table (merge_mode=mor)")
    if not since_version <= until_version:
        raise ValueError(f"empty interval ({since_version}, {until_version}]")
    have = set(table.versions())
    need = set(range(since_version, until_version + 1))
    if not need <= have:
        raise ValueError(
            f"manifests {sorted(need - have)} expired — consumer fell behind "
            "snapshot retention; bootstrap from a full snapshot read instead"
        )
    seen = {f["path"] for f in table.snapshot_at(since_version).files}
    added: list[dict] = []
    for v in range(since_version + 1, until_version + 1):
        snap = table.snapshot_at(v)
        for f in snap.files:
            # "migrated" entries are rewrites (bucket-spec migration, or the
            # rows a fold carries over from a shared delta file) of rows a
            # consumer already received under their ORIGINAL delta paths (the
            # historical manifests referencing those paths are untouched) —
            # re-emitting them would double-deliver the changelog
            if (
                f["path"] not in seen
                and f.get("kind", "base") == "delta"
                and not f.get("migrated")
            ):
                added.append(f)
        seen |= {f["path"] for f in snap.files}
    return added, table.snapshot_at(until_version)
