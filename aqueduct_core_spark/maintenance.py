"""Table maintenance: the delta/tombstone fold, snapshot expiry, and
bucket-spec migration.

The Spark restatement of the reference's scheduled compaction path
(SURVEY.md §3.3): CompactionTask cron -> advisory-locked compactAndMaintain ->
mark TTL for superseded deletes -> delete expired -> VACUUM ANALYSE
(pipe-http-server-cloud/.../CompactionTask.java:40-47,
 pipe-storage-postgresql/.../PostgresqlStorage.java:365-497).

Here: one fold (_fold_once) resolves the whole table (compact_table) or a
bucket range (compact_bucket_range, which maybe_compact runs as parallel range
jobs) back into base files, dropping tombstone rows older than the retention
threshold (they have done their late-data duty; None keeps every tombstone),
and compact_table then expires old snapshots. Every rewrite here commits through
LakeTable.swap_files instead of the reference's `SELECT ... FOR UPDATE NOWAIT`
advisory lock: it reads its input pinned to one snapshot, and its commit
rebases onto the head, dropping exactly the files it rewrote and keeping what
other writers committed meanwhile. A rewrite whose input a concurrent rewrite
already removed starts over from the head.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import functions as F

from aqueduct_core_spark.lake.table import (
    BUCKET_COL,
    LakeTable,
    Snapshot,
    bucket_expr,
    cluster_opts,
    current_spec_id,
    file_buckets,
    file_spec,
    is_mixed_spec,
)


@dataclass
class CompactionStats:
    version: int | None
    removed_snapshots: int
    skipped: bool = False


def compact_table(
    table: LakeTable,
    tombstone_retention_ts,
    keep_snapshots: int = 2,
) -> CompactionStats:
    """Fold the whole table: every live file, old-spec ones included, is
    resolved once and written back as base files (so reads go
    resolution-free again and a bucket-spec migration completes), dropping
    tombstone rows (turn, conversation and cascade sentinels) whose event
    time is at or below the retention threshold; then expire old snapshots.

    Mirrors the reference's deletion retention: tombstones younger than the
    threshold stay so that late/straggler readers still observe the delete
    (PostgresqlStorage.java:394-408; prod threshold 30 d). None keeps every
    tombstone.

    Concurrency follows compact_bucket_range: files committed meanwhile stay
    live (as deltas until the next pass); if another rewrite removed part of
    the input first, the fold starts over."""
    out = None
    while out is None:
        out = _fold_once(table, tombstone_retention_ts)
    removed = table.expire_snapshots(keep_last=keep_snapshots)
    return replace(out, removed_snapshots=removed)


def fold_closures(snap: Snapshot, buckets) -> list[list[int]]:
    """Group `buckets` so that no current-spec file holds buckets of two
    groups: connected components of "shares a file" (union-find over the
    files' bucket sets), each cut down to the requested buckets. A delta
    file holds every bucket its write task received, so folds of buckets in
    one group remove the same files; folds of different groups touch
    disjoint files and can run concurrently without either starting over."""
    parent: dict[int, int] = {}

    def find(b: int) -> int:
        parent.setdefault(b, b)
        while parent[b] != b:
            parent[b] = parent[parent[b]]
            b = parent[b]
        return b

    cur_spec = current_spec_id(snap)
    for f in snap.files:
        bs = file_buckets(f)
        if file_spec(f) == cur_spec and len(bs) > 1:
            root = find(bs[0])
            for b in bs[1:]:
                parent[find(b)] = root
    groups: dict[int, list[int]] = {}
    for b in sorted(set(buckets)):
        groups.setdefault(find(b), []).append(b)
    return sorted(groups.values())


def compact_bucket_range(
    table: LakeTable,
    tombstone_retention_ts,
    buckets: list[int],
) -> CompactionStats:
    """Compact ONLY the given bucket range as an independent job — the
    cluster-scale form of the reference's hourly CompactionTask: N disjoint
    ranges compact as N independent Spark jobs instead of one whole-table
    rewrite (CompactionTask.java:40-47 runs the whole table because Postgres
    is one node; a 64-bucket lake table wants 64-way maintenance parallelism).

    A delta file holds several buckets (one file per write task), so a fold
    removes delta files that also hold rows of buckets outside the range.
    Those rows are carried over unchanged into new delta files in the same
    commit (flagged "migrated": a chained consumer already received them),
    so the base data rewritten stays that of the range alone, and the carried
    rows resolve at read exactly as before (LWW orders rows by (ts, _lsn),
    never by file).

    Concurrency contract (matches the reference's single-flight semantics,
    PostgresqlStorageIntegrationSpec.groovy:483-531 — no writer's data is ever
    lost to a concurrent compactor): the folded input is pinned to the
    snapshot read at entry; the commit REBASES onto the current snapshot —
    it drops exactly the files it folded and keeps every file any concurrent
    writer committed since, including new delta files in this same bucket
    range (they simply remain deltas and resolve at read until the next
    compaction pass). A lost CAS race rebases again without recomputing
    (LakeTable.swap_files). If a concurrent fold or rewrite already removed
    one of the folded files, the two outputs would overlap: the attempt is
    discarded and the fold starts over from the current snapshot.

    Tombstones follow compact_table's retention rule (None keeps them all),
    except while two bucket specs coexist: then none is dropped."""
    while True:
        out = _fold_once(table, tombstone_retention_ts, buckets)
        if out is not None:
            return out


def _fold_once(
    table: LakeTable, tombstone_retention_ts, buckets=None
) -> CompactionStats | None:
    """One fold attempt; None when a concurrent fold took part of its input
    first. buckets=None folds every live file (compact_table); a bucket list
    folds the current-spec files holding any of those buckets
    (compact_bucket_range)."""
    from aqueduct_core_spark.lake.merge import read_resolved, resolve_lww

    snap0 = table.current()
    if buckets is None:
        entries, shared = snap0.files, []
    else:
        target = set(buckets)
        cur_spec = current_spec_id(snap0)
        # Only CURRENT-spec files fold: old-spec entries' bucket ids live in a
        # different layout space, and they hold rows of buckets OUTSIDE the
        # target range — removing one here would lose those rows. They are
        # retired by migrate_spec_files / compact_table instead.
        entries = [
            f
            for f in snap0.files
            if file_spec(f) == cur_spec and not target.isdisjoint(file_buckets(f))
        ]
        shared = [f for f in entries if not target.issuperset(file_buckets(f))]
    if not entries:
        return CompactionStats(version=snap0.version, removed_snapshots=0, skipped=True)
    if buckets is not None and is_mixed_spec(snap0):
        # Fold exactly the selected files (read_resolved would pull old-spec
        # rows into the rewrite, duplicating them against their still-live
        # source files). LWW-superseded drops among these rows stay safe: the
        # superseding winner is in the fold, and conversation tombstones are
        # sentinel-key rows that survive resolution.
        df = _with_bucket(table.read_entries(entries, snap0), snap0)
        df = df.filter(F.col(BUCKET_COL).isin(sorted(target)))
        df = df.repartition(table.write_parallelism(snap0), F.col(BUCKET_COL))
        df = resolve_lww(df, group_prefix=(BUCKET_COL,))
        # NO tombstone drop while two specs coexist: a retention-expired
        # tombstone here may be the only thing suppressing an older live row
        # in an old-spec file — dropping it would resurrect that row.
        tombstone_retention_ts = None
    else:
        # bucketed_output folds resolution + the write's bucket partitioning
        # into one exchange (resolve grouped by (bucket, key) on the already
        # bucket-partitioned scan) — the rewrite costs a single shuffle.
        df = read_resolved(
            table,
            version=snap0.version,
            buckets=buckets,
            with_bucket_col=True,
            bucketed_output=True,
        )
    if tombstone_retention_ts is not None:  # None keeps every tombstone
        df = df.filter(~(F.col("_deleted") & (F.col("ts") <= F.lit(tombstone_retention_ts))))
    cc, tfr = cluster_opts(snap0)
    new_files = table.write_files(
        df, snap0, kind="base", already_bucketed=True,
        cluster_col=cc, max_records_per_file=tfr,
    )
    if shared:
        carried = _with_bucket(table.read_entries(shared, snap0), snap0)
        for e in table.write_files(
            carried.filter(~F.col(BUCKET_COL).isin(sorted(target))), snap0, kind="delta"
        ):
            e["migrated"] = True
            new_files.append(e)
    head = table.swap_files((f["path"] for f in entries), new_files)
    return None if head is None else CompactionStats(version=head.version, removed_snapshots=0)


def _with_bucket(df, snap: Snapshot):
    """df with BUCKET_COL computed under snap's current bucket spec."""
    return df.withColumn(BUCKET_COL, bucket_expr(snap.bucket_key, snap.n_buckets))


def balance_bucket_ranges(
    rows_by_bucket: dict[int, int],
    units: list[list[int]],
    n_jobs: int,
) -> list[list[int]]:
    """Split units (disjoint bucket groups, kept whole — fold_closures gives
    groups whose folds share no file) into n_jobs sets with near-equal row
    volume: greedy LPT (heaviest unit to the currently-lightest job).
    Deterministic; buckets with unknown volume weigh 0 and spread round-robin
    by the tiebreak over the jobs of the weighed ones (a job of weightless
    buckets alone would fold nothing). At cluster scale this keeps one hot
    bucket from serializing a whole maintenance wave behind it."""

    def weight(u):
        return sum(rows_by_bucket.get(b, 0) for b in u)

    n_weighed = sum(1 for u in units if weight(u) > 0)
    n_jobs = max(1, min(n_jobs, n_weighed or len(units)))
    loads = [0] * n_jobs
    jobs: list[list[int]] = [[] for _ in range(n_jobs)]

    for u in sorted(units, key=lambda u: (-weight(u), u)):
        j = min(range(n_jobs), key=lambda i: (loads[i], len(jobs[i]), i))
        jobs[j].extend(u)
        loads[j] += weight(u)
    return [sorted(j) for j in jobs if j]


def _bucket_rows(entry: dict) -> list[tuple[int, int]]:
    """(bucket, rows) for each bucket an entry's file holds, from manifest
    stats alone: a delta file's exact per-bucket counts, else the file's row
    count (1 for a stat-less file)."""
    return list(zip(file_buckets(entry), entry.get("bucket_rows") or [entry.get("rows") or 1]))


def _rows_by_bucket(snap: Snapshot) -> dict[int, int]:
    out: dict[int, int] = {}
    for f in snap.files:
        for b, rows in _bucket_rows(f):
            out[b] = out.get(b, 0) + rows
    return out


@dataclass(frozen=True)
class CompactionPolicy:
    """Data-driven compaction trigger thresholds (the reference's hourly
    CompactionTask cron, CompactionTask.java:40-47, made manifest-stat-driven:
    compact when the observed MOR read debt crosses a line, not when a clock
    fires). The MOR curve (BENCH_MOR_CURVE.md) shows read cost is O(delta
    files), so the primary knob is delta-file count per bucket; the row
    threshold additionally catches few-but-huge deltas."""

    max_delta_files_per_bucket: int = 8
    max_delta_rows_per_bucket: int | None = None
    n_jobs: int = 4


def delta_pressure(snap: Snapshot) -> dict[int, tuple[int, int]]:
    """Per-bucket MOR debt from manifest stats alone (no data scan):
    bucket -> (delta_file_count, delta_rows). A delta file counts once in
    each bucket it holds (each of those buckets' reads must open it), with
    that bucket's exact share of its rows.
    Current-spec files only: old-spec entries' bucket ids address a different
    layout, and compact_bucket_range cannot retire them anyway (their debt is
    paid by migrate_spec_files)."""
    cur_spec = current_spec_id(snap)
    out: dict[int, tuple[int, int]] = {}
    for f in snap.files:
        if f.get("kind") != "delta" or file_spec(f) != cur_spec:
            continue
        for b, rows in _bucket_rows(f):
            n, r = out.get(b, (0, 0))
            out[b] = (n + 1, r + rows)
    return out


def buckets_over_threshold(snap: Snapshot, policy: CompactionPolicy) -> list[int]:
    hot = []
    for b, (n_files, n_rows) in delta_pressure(snap).items():
        if n_files > policy.max_delta_files_per_bucket or (
            policy.max_delta_rows_per_bucket is not None
            and n_rows > policy.max_delta_rows_per_bucket
        ):
            hot.append(b)
    return sorted(hot)


def maybe_compact(
    table: LakeTable,
    policy: CompactionPolicy,
    tombstone_retention_ts=None,
) -> list[CompactionStats]:
    """Self-tuning compaction: fold deltas in exactly the buckets whose
    manifest-recorded delta debt exceeds the policy, as load-balanced
    independent range jobs whose bucket sets share no file (fold_closures).
    No-op (and no Spark job) when every bucket is under threshold — cheap
    enough to call after every ingest commit.

    With tombstone_retention_ts=None no tombstone is dropped: the auto path
    only folds deltas to cap MOR read cost; tombstone GC stays an explicit
    maintenance decision with a real retention horizon (compact_table)."""
    snap = table.current()
    hot = buckets_over_threshold(snap, policy)
    if not hot:
        return []
    ranges = balance_bucket_ranges(
        _rows_by_bucket(snap), fold_closures(snap, hot), policy.n_jobs
    )
    if len(ranges) == 1:
        return [compact_bucket_range(table, tombstone_retention_ts, ranges[0])]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(ranges)) as ex:
        return list(
            ex.map(
                lambda r: compact_bucket_range(table, tombstone_retention_ts, r),
                ranges,
            )
        )


@dataclass
class MigrationStats:
    migrated_files: int
    remaining_files: int
    version: int
    done: bool


def migrate_spec_files(
    table: LakeTable,
    max_files: int | None = None,
) -> MigrationStats:
    """Incrementally rewrite files from retired bucket specs into the current
    layout — the data-moving half of evolve_bucketing, sized by `max_files`
    per call so a 100 TB table migrates as many bounded background jobs
    instead of one big-bang rewrite (Iceberg's rewrite_data_files with a
    target spec). Each call: pick up to max_files old-spec entries, rewrite
    their rows bucketed under the current spec (kind preserved — delta rows
    stay unresolved deltas; base rows stay base), and commit a rebase that
    swaps exactly those entries. The rewritten entries are flagged
    "migrated" so changed_entries never re-emits rows a chained consumer
    already received under the original paths (which stay on disk for
    historical manifests until snapshot expiry, same as compaction folds).

    Safe against concurrent writers exactly like compact_bucket_range: input
    pinned to the entry snapshot, commit through LakeTable.swap_files, and a
    fresh start from the head when a concurrent rewrite (a compaction, say)
    already removed part of the input. When no old-spec files remain the
    table leaves the mixed state and full per-bucket pruning/skipping
    resumes."""
    while True:
        snap0 = table.current()
        cur_spec = current_spec_id(snap0)
        old = [f for f in snap0.files if file_spec(f) != cur_spec]
        if not old:
            return MigrationStats(0, 0, snap0.version, done=True)
        # smallest-first: drains the long tail of tiny files quickly and keeps
        # each bounded job's input size predictable
        old.sort(key=lambda f: (f.get("rows") or 1, f["path"]))
        sel = old if max_files is None else old[: max(1, int(max_files))]
        cc, tfr = cluster_opts(snap0)
        new_files: list[dict] = []
        for kind in ("base", "delta"):
            grp = [f for f in sel if f.get("kind", "base") == kind]
            if not grp:
                continue
            df = _with_bucket(table.read_entries(grp, snap0), snap0)
            ents = table.write_files(
                df,
                snap0,
                kind=kind,
                # base rewrites keep the table's clustering contract; delta rows
                # stay unsorted like the ingest path that wrote them
                cluster_col=cc if kind == "base" else None,
                max_records_per_file=tfr if kind == "base" else None,
            )
            for e in ents:
                e["migrated"] = True
            new_files.extend(ents)
        head = table.swap_files((f["path"] for f in sel), new_files)
        if head is not None:
            remaining = sum(1 for f in head.files if file_spec(f) != current_spec_id(head))
            return MigrationStats(len(sel), remaining, head.version, remaining == 0)
