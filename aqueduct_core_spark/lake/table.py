"""Snapshot-versioned, bucket-partitioned ACID table on parquet.

Semantics reproduced from the reference engine (see SURVEY.md sections 2.1/3.3):
  * atomic commit of a whole batch        <-> SQLite single-tx PipeEntity write
    (pipe-storage-sqlite/.../SQLiteStorage.java:134-171)
  * idempotent re-apply of a batch        <-> msg_offset PK conflict idempotence
    (SQLiteStorageIntegrationSpec.groovy:250-282)
  * single-flight maintenance             <-> Postgres advisory lock
    (PostgresqlStorage.java:503-505) — here: optimistic manifest CAS
  * routing-partition pruning             <-> per-cluster lateral scan + indexes
    (PostgresqlStorage.java:446-467) — here: manifest-level bucket pruning

Physical layout::

    root/
      _manifests/v0000000001.json     # one immutable JSON per snapshot
      _manifests/seg-<ms>-<id>.json   # immutable file-entry segments (shared)
      data/<commit-uuid>/_bucket=<b>/part-*.parquet   # base: one bucket a file
      data/<commit-uuid>/part-*.parquet               # delta: one file a write task

Base files (compaction folds) hold one bucket each and their entry records it
as "bucket". A merge-on-read delta file holds every bucket its write task
received from the bucket exchange, with the bucket id stored as a column; its
entry records the exact set as "buckets" and each bucket's row count as
"bucket_rows", read from the file in the same pass that harvests its footer.
`file_buckets` is the one accessor for either form. A batch thus writes
write_parallelism files, not one per touched bucket: per-file costs (output
commit, footer read, and the parquet source's file listing, which turns into a
Spark job past 32 paths) follow the task count instead of the bucket count. The
price is that delta files tie buckets together: a fold of some of a file's
buckets carries the rows of the others over into new delta files
(maintenance.compact_bucket_range), and concurrent folds get bucket sets that
share no file (maintenance.fold_closures).

Manifests are TWO-LEVEL (Iceberg's manifest-list / manifest-file split): the
snapshot JSON holds schemas/txn/properties plus REFERENCES to immutable segment
files, each holding a slice of the live file-entry list. A commit reuses every
parent segment whose entries all survive and writes ONE new segment with the
added entries (plus survivors of any segment it shrank) — so commit metadata
cost is O(files changed), not O(files in table). A metadata-only commit
(consumer registration, txn watermark, pipe state) writes zero segment bytes.
Commits are atomic via ``os.link`` (create-if-absent) of the next version
file — a concurrent winner makes the loser retry, which is exactly Iceberg's
optimistic-commit model. Segments orphaned by losing CAS attempts are
reclaimed by expire_snapshots after a grace window. Every commit goes through
LakeTable.commit (metadata changes recomputed on the head), swap_files (the
rebase of a rewrite) or publish_next (one attempt, the caller handles the
conflict); they alone build a successor snapshot.

Scale notes (100 TB): all data stays in executors — the driver only touches
manifests. At ~1M live files a single-level manifest is a ~10^2 MB JSON
rewritten per commit (and re-parsed per read); the two-level form writes only
the commit's own entries, and readers parse each immutable segment once
(process-wide cache keyed by segment path). Bucket pruning means a MERGE that
touches K of N buckets plans a scan over only K buckets' files; with Iceberg
this maps onto `bucket(conv_id)` partition transforms and metadata-only
planning.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field, replace
from typing import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from aqueduct_core_spark.lake.fsio import get_fs

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"
BUCKET_COL = "_bucket"
#: segment files: _manifests/seg-<epoch-ms>-<uuid>.json (immutable; the epoch
#: in the name is what the GC grace window reads — no extra stat round trip)
SEGMENT_PREFIX = "seg-"
#: coalesce the whole entry list into one segment when a commit would
#: otherwise reference more than this many (amortized O(files/K) per commit)
DEFAULT_MAX_SEGMENTS = 32
#: never GC a segment younger than this — it may belong to an in-flight
#: commit whose snapshot JSON has not been published yet
DEFAULT_SEGMENT_GC_GRACE_S = 3600.0
#: advisory latest-version pointer (Iceberg's version-hint.text): current()
#: reads the hint and probes forward instead of LISTing the manifest dir —
#: O(1) GETs on the hot read path instead of an O(versions+segments) LIST
VERSION_HINT = "version-hint.text"
# Columns whose per-file (min, max) is recorded in the manifest at write time
# (override per table via properties["stats_cols"]). The reference serves
# `WHERE msg_offset > ?` from a B-tree (SQLiteQueries.java offset index); at
# lake scale the analog is skipping whole files by footer stats — Iceberg's
# lower_bounds/upper_bounds.
DEFAULT_STATS_COLS = ["_lsn", "ts"]
_TS_CONF = "spark.sql.parquet.outputTimestampType"


def cluster_opts(snap: "Snapshot") -> tuple[str | None, int | None]:
    """Table-level clustering knobs for base-file rewrites, from snapshot
    properties: `compaction.cluster_col` (default "ts"; set "" to disable)
    orders each bucket's rewrite output, `compaction.target_file_rows`
    (default unset = one file per bucket) bounds file size so the sorted run
    splits into range-disjoint files the manifest stats can prune. Applied by
    compaction; delta appends stay unsorted (an ingest batch is already a
    narrow time slice — sorting the hot path buys nothing)."""
    cc = snap.properties.get("compaction.cluster_col", "ts") or None
    tfr = snap.properties.get("compaction.target_file_rows")
    return cc, (int(tfr) if tfr else None)


def _stat_scalar(v):
    """Normalize a stats value (or a caller's prune bound) to a JSON-safe,
    order-preserving scalar: ints/floats pass through, datetimes become epoch
    microseconds (naive = UTC). Unsupported types -> None (no pruning)."""
    import datetime as _dt

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    return None


def _file_may_match(entry: dict, prune_ranges: dict) -> bool:
    """True unless the file's manifest stats PROVE every requested range is
    unsatisfiable. Files without stats (older manifests, stat-less writers)
    are always kept — pruning is an optimization, never a filter."""
    stats = entry.get("stats") or {}
    for col, (lo, hi) in prune_ranges.items():
        s = stats.get(col)
        if not s:
            continue
        f_lo, f_hi = s
        lo_n, hi_n = _stat_scalar(lo), _stat_scalar(hi)
        if lo_n is not None and f_hi < lo_n:
            return False
        if hi_n is not None and f_lo > hi_n:
            return False
    return True


def file_buckets(entry: dict) -> list[int]:
    """The buckets whose rows an entry's file holds: the recorded set of a
    delta file, else the single bucket of a base file (or of a delta file
    written before delta files held several buckets)."""
    bs = entry.get("buckets")
    return [entry["bucket"]] if bs is None else bs


def bucket_expr(col_name: str, n_buckets: int):
    """Deterministic hash bucket of a key column (Iceberg's bucket() transform)."""
    return F.pmod(F.xxhash64(F.col(col_name)), F.lit(n_buckets)).cast("int")


# --------------------------------------------------------- bucket-spec evolution
# The bucket count chosen at CREATE is wrong by the time a table has grown
# 100x; rewriting 100 TB to fix it is not an option. Iceberg's answer is
# partition-SPEC evolution: the layout becomes versioned, old files keep the
# spec they were written under, new files use the current one, and migration
# is incremental. Here: Snapshot.n_buckets/bucket_key always describe the
# CURRENT spec; properties carry the spec id and history; each file entry
# records the spec it was laid out under ("spec", absent = 1).


def current_spec_id(snap: "Snapshot") -> int:
    return int(snap.properties.get("bucket_spec_id", "1"))


def file_spec(entry: dict) -> int:
    return int(entry.get("spec", 1))


def is_mixed_spec(snap: "Snapshot") -> bool:
    """True while any live file predates the current bucket spec. In this
    state a key's rows span TWO layouts (one bucket id per spec), so bucket
    scoping, stats skipping, and clean/dirty resolution splitting all degrade
    to their conservative forms until migration completes."""
    cur = current_spec_id(snap)
    return any(file_spec(f) != cur for f in snap.files)


#: process-wide parse cache for immutable segment files. Entry dicts are shared
#: between the cache and every hydrated Snapshot — manifest entries are
#: treated as immutable everywhere (writers build NEW dicts), so sharing is
#: safe and a changelog walk over V versions parses each segment once, not V
#: times. Bounded by wholesale clear: segments are small JSON and re-parse is
#: cheap relative to unbounded growth in a long-lived driver.
_SEGMENT_CACHE: dict[str, list[dict]] = {}
_SEGMENT_CACHE_MAX = 4096


def _load_segment(path: str) -> list[dict]:
    entries = _SEGMENT_CACHE.get(path)
    if entries is None:
        entries = json.loads(get_fs().read_text(path))
        if len(_SEGMENT_CACHE) >= _SEGMENT_CACHE_MAX:
            _SEGMENT_CACHE.clear()
        _SEGMENT_CACHE[path] = entries
    return entries


@dataclass
class Snapshot:
    version: int
    current_schema_id: int
    schemas: list[dict]  # [{"schema_id": int, "json": <StructType.json()>}]
    n_buckets: int
    bucket_key: str
    files: list[dict] = field(default_factory=list)  # {path, bucket|buckets, schema_id, rows}
    txn: dict = field(default_factory=dict)  # writer_id -> last committed batch_id
    properties: dict = field(default_factory=dict)
    parent: int | None = None
    committed_at: float = 0.0
    #: segment layout this snapshot was HYDRATED from (None for in-memory
    #: snapshots built by writers — the layout is derived at commit time by
    #: diffing against the parent's). Not part of the logical state.
    segments: list[dict] | None = field(default=None, compare=False)

    def schema(self) -> StructType:
        for s in self.schemas:
            if s["schema_id"] == self.current_schema_id:
                return StructType.fromJson(json.loads(s["json"]))
        raise KeyError(f"schema_id {self.current_schema_id} not in manifest")

    def schema_by_id(self, schema_id: int) -> StructType:
        for s in self.schemas:
            if s["schema_id"] == schema_id:
                return StructType.fromJson(json.loads(s["json"]))
        raise KeyError(f"schema_id {schema_id} not in manifest")

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "current_schema_id": self.current_schema_id,
                "schemas": self.schemas,
                "n_buckets": self.n_buckets,
                "bucket_key": self.bucket_key,
                "files": self.files,
                "txn": self.txn,
                "properties": self.properties,
                "parent": self.parent,
                "committed_at": self.committed_at,
            }
        )

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        """Parse the INLINE (single-level) form only — persisted two-level
        manifests are hydrated by LakeTable.snapshot_at, which resolves the
        segment references through the FS seam."""
        d = json.loads(s)
        if "segments" in d:
            raise ValueError(
                "two-level manifest requires LakeTable.snapshot_at for hydration"
            )
        return Snapshot(**d)


class CommitConflict(Exception):
    """Another writer committed this version first — reread and retry."""


class LakeTable:
    """A snapshot-versioned table. All methods are driver-side metadata ops except
    the DataFrame reads/writes, which stay fully distributed."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # INT96 (Spark's legacy default) records no parquet min/max stats,
        # which would blind the manifest's ts pruning; TIMESTAMP_MICROS does.
        # Set once and never unset: toggling it around each write let one
        # thread's restore land in the middle of another thread's write
        # (ingest beside background compaction) and leave stat-less files.
        if spark.conf.get(_TS_CONF, None) != "TIMESTAMP_MICROS":
            spark.conf.set(_TS_CONF, "TIMESTAMP_MICROS")

    # ---------------------------------------------------------------- create/load
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: StructType,
        bucket_key: str,
        n_buckets: int = 16,
        properties: dict | None = None,
    ) -> "LakeTable":
        """Create an empty table. Every table is merge-on-read: `merge_mode`
        (the format marker read_changes checks) is "mor", nothing else."""
        properties = {"merge_mode": "mor", **(properties or {})}
        if properties["merge_mode"] != "mor":
            raise ValueError(f"merge_mode must be 'mor', got {properties['merge_mode']!r}")
        fs = get_fs()
        fs.makedirs(os.path.join(root, MANIFEST_DIR))
        fs.makedirs(os.path.join(root, DATA_DIR))
        t = cls(spark, root)
        snap = Snapshot(
            version=1,
            current_schema_id=1,
            schemas=[{"schema_id": 1, "json": schema.json()}],
            n_buckets=n_buckets,
            bucket_key=bucket_key,
            properties=properties,
            committed_at=time.time(),
        )
        t._write_manifest(snap)
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        fs = get_fs()
        d = os.path.join(root, MANIFEST_DIR)
        return fs.isdir(d) and any(
            f.startswith("v") and f.endswith(".json") for f in fs.listdir(d)
        )

    def current(self) -> Snapshot:
        v = self._latest_version()
        if v is None:
            raise FileNotFoundError(f"no manifest under {self.root}")
        return self.snapshot_at(v)

    def snapshot_at(self, version: int) -> Snapshot:
        d = json.loads(get_fs().read_text(self._manifest_path(version)))
        segments = d.pop("segments", None)
        if segments is not None:
            files: list[dict] = []
            for seg in segments:
                files.extend(_load_segment(seg["path"]))
            d["files"] = files
        snap = Snapshot(**d)
        snap.segments = segments
        return snap

    def versions(self) -> list[int]:
        d = os.path.join(self.root, MANIFEST_DIR)
        out = []
        for f in get_fs().listdir(d):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    # ---------------------------------------------------------------- read
    def read(
        self,
        buckets: Sequence[int] | None = None,
        version: int | None = None,
        with_bucket_col: bool = False,
        prune_ranges: dict | None = None,
        prune_exempt_buckets: set[int] | None = None,
    ) -> DataFrame:
        """Snapshot read, optionally pruned to a bucket set (manifest-level pruning:
        files holding none of the buckets are never listed, opened, or
        scheduled). A delta file holds several buckets; when the set covers
        only some of a selected file's buckets, a row filter drops the rest.

        `prune_ranges` ({col: (lo, hi)}, either bound None for open) additionally
        skips files whose manifest stats prove no row can satisfy lo <= col <= hi.
        This is a PHYSICAL file skip over raw stored rows: on a merge-on-read
        snapshot with delta files it is NOT equivalent to filtering the
        LWW-resolved view (an old file may hold the (ts,_lsn) winner that
        suppresses a newer losing row — dropping it would resurrect the loser).
        LWW resolution is per-key and a key lives in exactly one bucket, so the
        hazard is bucket-local: `prune_exempt_buckets` names the buckets whose
        files must never be skipped (the ones holding live delta files), while
        fully-resolved buckets keep skipping. Use
        `merge.read_resolved(..., ranges=...)`, which derives the exempt set
        from the manifest, for resolved-view semantics."""
        snap = self.current() if version is None else self.snapshot_at(version)
        target_schema = snap.schema()
        files = snap.files
        cur_spec = current_spec_id(snap)
        mixed = is_mixed_spec(snap)
        row_scope = False
        if buckets is not None:
            bset = set(buckets)
            # Old-spec files (mixed state) are laid out under a DIFFERENT
            # bucket space — their entry bucket ids say nothing about the
            # requested (current-spec) scope, so they are all read and scoped
            # at the ROW level below. Current-spec files prune as usual.
            files = [
                f
                for f in files
                if (mixed and file_spec(f) != cur_spec)
                or not bset.isdisjoint(file_buckets(f))
            ]
            row_scope = mixed or any(not bset.issuperset(file_buckets(f)) for f in files)
        if prune_ranges:
            exempt = prune_exempt_buckets or set()
            # Old-spec files are never stats-skipped: their bucket ids don't
            # address the exempt set's space, and an old-spec file may hold
            # the LWW winner that suppresses a newer loser anywhere.
            files = [
                f
                for f in files
                if (mixed and file_spec(f) != cur_spec)
                or not exempt.isdisjoint(file_buckets(f))
                or _file_may_match(f, prune_ranges)
            ]
        df = self.read_entries(files, snap)
        if row_scope:
            # Row-level bucket scoping (a no-op for rows of files the bucket
            # set fully covers)
            df = df.filter(
                bucket_expr(snap.bucket_key, snap.n_buckets).isin([int(b) for b in bset])
            )
        if with_bucket_col:
            df = df.withColumn(BUCKET_COL, bucket_expr(snap.bucket_key, snap.n_buckets))
        return df

    def read_entries(self, files: list[dict], snap: Snapshot) -> DataFrame:
        """Read an explicit manifest-entry list (schema-aligned to `snap`'s
        current schema). Building block for snapshot reads and incremental
        changelog reads."""
        target_schema = snap.schema()
        if not files:
            # .limit(0) lets OptimizeLimitZero rewrite the RDD-backed empty
            # relation into a LocalRelation Catalyst can FOLD AWAY — a bare
            # createDataFrame([]) survives as `Scan ExistingRDD`, which costs
            # a real (empty) stage in every plan it gets unioned into
            return self.spark.createDataFrame([], target_schema).limit(0)
        # Group by written schema so each parquet read uses its exact file schema,
        # then align to the current schema (add-column -> NULL, widen -> cast).
        by_schema: dict[int, list[str]] = {}
        for f in files:
            by_schema.setdefault(f["schema_id"], []).append(f["path"])
        parts = []
        for schema_id, paths in by_schema.items():
            written = snap.schema_by_id(schema_id)
            part = self.spark.read.schema(written).parquet(*paths)
            parts.append(_align(part, written, target_schema))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    # ---------------------------------------------------------------- write
    def write_parallelism(self, snap: Snapshot) -> int:
        """Output partition count for a commit's data files — shared by
        write_files and callers that pre-partition upstream (merge's
        single-shuffle plan) so both sides agree on the exchange."""
        return max(1, min(snap.n_buckets, self.spark.sparkContext.defaultParallelism))

    def write_files(
        self,
        df: DataFrame,
        snap: Snapshot,
        kind: str = "base",
        already_bucketed: bool = False,
        cluster_col: str | None = None,
        max_records_per_file: int | None = None,
    ) -> list[dict]:
        """Write df (must carry BUCKET_COL) as one commit's data files; returns file
        entries for the manifest. Distributed write, driver-side enumeration only.

        Rows go through one exchange keyed by bucket, so each bucket's rows
        are in exactly one write task. `kind="base"` writes one directory per
        bucket (one file per bucket and task); `kind="delta"` writes ONE file
        per task holding all of that task's buckets, BUCKET_COL stored as a
        column, and the entry records the file's exact bucket set and each
        bucket's row count, read through the FS seam together with the
        footer (no Spark job). A failed read of them fails the write and
        removes the commit's files.

        `already_bucketed=True` promises df is ALREADY hash-partitioned by
        BUCKET_COL at write_parallelism(snap) (the merge path repartitions
        before LWW resolution so the whole apply runs on one exchange); the
        write then skips its own repartition instead of shuffling a second
        time.

        `cluster_col` sorts each output task by (bucket, cluster_col) before
        writing — a task-local sort, no extra exchange — and
        `max_records_per_file` chops each bucket's sorted stream into
        bounded files. Together they are time-clustering: every file covers
        a narrow, non-overlapping cluster_col range, so the manifest's
        min/max stats let a windowed read open O(window) files instead of
        one bucket-spanning file per bucket (Iceberg's sort-order rewrite;
        reference analog: the offset B-tree index serving `WHERE msg_offset
        > ?` pages, SQLiteQueries.java:77-99). Row order is semantically
        inert — LWW resolution and the read views never depend on physical
        order — so clustering is a pure stats-tightening transform."""
        commit_id = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.root, DATA_DIR, commit_id)
        delta = kind == "delta"
        out_df = (
            df
            if already_bucketed
            else df.repartition(self.write_parallelism(snap), F.col(BUCKET_COL))
        )
        if cluster_col and cluster_col in out_df.columns:
            # hash(bucket) keying puts ALL of a bucket's rows in one task,
            # so a task-local sort yields globally contiguous per-bucket
            # runs; maxRecordsPerFile then splits a run into sequential —
            # hence range-disjoint — files.
            out_df = out_df.sortWithinPartitions(BUCKET_COL, cluster_col)
        writer = out_df.write.mode("append")
        if not delta:
            writer = writer.partitionBy(BUCKET_COL)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.parquet(out_dir)
        stats_cols = snap.properties.get("stats_cols", DEFAULT_STATS_COLS)
        field_names = {f.name for f in snap.schema().fields}
        stats_cols = [c for c in stats_cols if c in field_names]

        def harvest(path: str) -> tuple:
            # Footer-only read (O(1) per file — one ranged GET on an object
            # store): row count + min/max for the stats columns, plus a delta
            # file's per-bucket row counts (one small column chunk). Stats are
            # best-effort — a stat-less footer degrades to rows/stats = None —
            # but a delta file's bucket set is not: without it no read could
            # select the file, so its failure fails the write.
            try:
                footer = get_fs().parquet_footer(path, BUCKET_COL if delta else None)
            except Exception:
                if delta:
                    raise
                return None, None, None
            stats = {}
            for c in stats_cols:
                mm = footer["columns"].get(c)
                if mm is None:
                    continue
                lo, hi = _stat_scalar(mm[0]), _stat_scalar(mm[1])
                if lo is not None and hi is not None:
                    stats[c] = [lo, hi]
            return footer["rows"], stats or None, footer.get("values")

        paths = [
            p
            for p in get_fs().walk_files(out_dir)
            if p.endswith(".parquet")
            and (delta or os.path.basename(os.path.dirname(p)).startswith(f"{BUCKET_COL}="))
        ]
        # IO-bound and per-file independent: harvest concurrently so a
        # thousand-file commit costs one footer round-trip, not a thousand.
        from concurrent.futures import ThreadPoolExecutor

        try:
            if len(paths) > 1:
                with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
                    harvested = list(ex.map(harvest, paths))
            else:
                harvested = [harvest(p) for p in paths]
        except Exception:
            # no manifest will ever reference this commit's files, so
            # expire_snapshots could never reclaim them: remove them here
            get_fs().rmtree(out_dir)
            raise
        entries: list[dict] = []
        for path, (rows, stats, counts) in zip(paths, harvested):
            if delta:
                if not counts:
                    # the row-less file Spark writes when its first task
                    # receives no rows: nothing to reference, so reclaim it
                    get_fs().remove(path)
                    continue
                placement = {
                    "buckets": [int(b) for b in counts],
                    "bucket_rows": list(counts.values()),
                }
            else:
                part_dir = os.path.basename(os.path.dirname(path))
                placement = {"bucket": int(part_dir.split("=", 1)[1])}
            entries.append(
                {
                    "path": path,
                    **placement,
                    "schema_id": snap.current_schema_id,
                    "rows": rows,
                    "stats": stats,
                    "kind": kind,  # base | delta (merge-on-read)
                    "spec": current_spec_id(snap),  # bucket layout written under
                }
            )
        return entries

    def try_commit(self, snap: Snapshot) -> None:
        """Atomically publish `snap` as the next version (CAS on the version file)."""
        self._write_manifest(snap)

    def publish_next(self, base: Snapshot, **changes) -> Snapshot:
        """Publish `base` with `changes` (Snapshot fields) as the next version
        and return it. Version, parent and commit time are set here alone.
        Raises CommitConflict when another writer published that version."""
        nxt = replace(
            base, **changes, version=base.version + 1, parent=base.version,
            committed_at=time.time(), segments=None,
        )
        self.try_commit(nxt)
        return nxt

    def commit(self, update: Callable[[Snapshot], dict | None]) -> Snapshot:
        """Commit `update(head)` (the fields to change, or None when the head
        needs no commit) and return the new head. A lost race re-runs
        `update` on the winner's snapshot, so the change applies exactly once
        on top of whatever landed first."""
        while True:
            head = self.current()
            changes = update(head)
            if changes is None:
                return head
            try:
                return self.publish_next(head, **changes)
            except CommitConflict:
                continue

    def swap_files(self, removed: Iterable[str], added: list[dict]) -> Snapshot | None:
        """Rebase commit of a rewrite (a fold or a spec migration): replace
        exactly the `removed` paths of the head with the `added` entries,
        keeping every file and property other writers committed since the
        rewrite read its input.
        Returns the new head; the head itself when `added` is already live
        (our commit landed but its response was lost). When part of the input
        is already gone (another rewrite took it), both outputs would hold
        the same rows: the added files are deleted and None is returned, and
        the caller starts over from the head."""
        removed = set(removed)
        ours = {f["path"] for f in added}
        while True:
            head = self.current()
            live = {f["path"] for f in head.files}
            if not live.isdisjoint(ours):
                return head
            if not removed <= live:
                self.discard_files(added)
                return None
            files = [f for f in head.files if f["path"] not in removed] + added
            try:
                return self.publish_next(head, files=files)
            except CommitConflict:
                continue

    def discard_files(self, entries: list[dict]) -> None:
        """Delete a failed commit attempt's data files.

        The losing side of an optimistic-commit race has already written its
        parquet under data/<commit-uuid>/ but no manifest will ever reference
        it, so expire_snapshots can never reclaim it — without this, writer
        contention leaks orphan files without bound. The commit directory is
        the first component of each path below the data root, whatever the
        depth of the file under it (base files sit one level deeper than
        delta files); a path outside the data root is refused."""
        data_root = os.path.join(self.root, DATA_DIR)
        dirs = set()
        for e in entries:
            rel = os.path.relpath(e["path"], data_root)
            commit, sep, _ = rel.partition(os.sep)
            if not sep or commit in (os.curdir, os.pardir):
                raise ValueError(f"{e['path']} is not a data file of {self.root}")
            dirs.add(os.path.join(data_root, commit))
        fs = get_fs()
        for d in dirs:
            fs.rmtree(d)

    # ---------------------------------------------------------------- evolution
    def evolve_schema(self, new_schema: StructType) -> Snapshot:
        """Evolve-then-write (add columns / widen int->long, float->double).

        Mirrors Iceberg `ALTER TABLE ... ADD COLUMN` semantics: existing files are
        NOT rewritten; readers align old files to the new schema.
        """

        def update(snap: Snapshot) -> dict | None:
            old = snap.schema()
            if [(f.name, f.dataType, f.nullable) for f in old.fields] == [
                (f.name, f.dataType, f.nullable) for f in new_schema.fields
            ]:
                # idempotent no-op (covers the ambiguous-success retry: our
                # evolution already landed but the storage response was lost)
                return None
            _check_compatible_evolution(old, new_schema)
            new_id = max(s["schema_id"] for s in snap.schemas) + 1
            return {
                "current_schema_id": new_id,
                "schemas": snap.schemas + [{"schema_id": new_id, "json": new_schema.json()}],
            }

        return self.commit(update)

    def evolve_bucketing(self, new_n_buckets: int) -> Snapshot:
        """Evolve the bucket spec (Iceberg partition-spec evolution): a
        metadata-only commit that makes `new_n_buckets` the current layout.
        NO data moves — existing files keep the spec they were written under
        (every live entry is stamped with the outgoing spec id in this same
        commit), new writes land in the new layout, and
        maintenance.migrate_spec_files / compact_table retire the old files
        incrementally. O(1) driver-side regardless of table size: the answer
        to "n_buckets chosen at CREATE is wrong at 100x" that doesn't cost a
        100 TB rewrite. Merges keep appending delta files throughout; reads
        resolve across both layouts until the migration finishes."""

        def update(snap: Snapshot) -> dict | None:
            if int(new_n_buckets) < 1:
                raise ValueError(f"n_buckets must be >= 1, got {new_n_buckets}")
            if snap.n_buckets == int(new_n_buckets):
                # idempotent no-op (covers the ambiguous-success retry)
                return None
            old_id = current_spec_id(snap)
            specs = json.loads(snap.properties.get("bucket_specs", "[]")) or [
                {"spec": old_id, "n_buckets": snap.n_buckets}
            ]
            new_id = max(s["spec"] for s in specs) + 1
            return {
                "n_buckets": int(new_n_buckets),
                # stamp every live entry with the spec it was written under —
                # pre-evolution entries carry no "spec" key (implicit 1)
                "files": [{**f, "spec": file_spec(f)} for f in snap.files],
                "properties": {
                    **snap.properties,
                    "bucket_spec_id": str(new_id),
                    "bucket_specs": json.dumps(
                        specs + [{"spec": new_id, "n_buckets": int(new_n_buckets)}]
                    ),
                },
            }

        return self.commit(update)

    # ---------------------------------------------------------------- maintenance
    def register_consumer(self, consumer_id: str, version: int) -> None:
        """Record a downstream consumer's applied snapshot version in the
        table properties — the reference's node offset re-registration
        (nodes continually report their pipe offset to the registry;
        retention/compaction then respects the slowest reader).
        Chained children call this after each sync so
        expire_snapshots(respect_consumers=True) never breaks their resume
        interval."""

        def update(snap: Snapshot) -> dict | None:
            consumers = dict(snap.properties.get("consumers", {}))
            if consumers.get(consumer_id) == version:
                return None
            consumers[consumer_id] = int(version)
            return {"properties": {**snap.properties, "consumers": consumers}}

        self.commit(update)

    def unregister_consumer(self, consumer_id: str) -> None:
        """Remove a consumer's registration (the stale-node eviction path —
        SubNodeGroup removes nodes unseen past the threshold)."""

        def update(snap: Snapshot) -> dict | None:
            consumers = dict(snap.properties.get("consumers", {}))
            if consumer_id not in consumers:
                return None
            consumers.pop(consumer_id)
            return {"properties": {**snap.properties, "consumers": consumers}}

        self.commit(update)

    def expire_snapshots(
        self,
        keep_last: int = 2,
        respect_consumers: bool = False,
        max_consumer_lag: int | None = None,
    ) -> int:
        """Drop old manifests and any data files no kept snapshot references.

        The reference's VACUUM/compaction maintenance analog
        (PostgresqlStorage.java:490-497, SQLiteStorage.java:266-273).

        respect_consumers=True additionally keeps every manifest from the
        slowest REGISTERED consumer's applied version forward (see
        register_consumer), so chained children resume incrementally instead
        of falling past retention and bootstrapping. A consumer more than
        max_consumer_lag versions behind is ignored (and its registration
        dropped) — the stale-node eviction contract: a reader that dead-stops
        must not pin retention forever; it bootstraps from a snapshot when it
        returns.

        Registration-vs-expiry race: the keep-set decision is CAS-serialized
        through a `retention_floor` property commit (stale evictions ride the
        same commit). A consumer registering concurrently lands its own
        manifest commit, which makes OUR commit conflict — the loop then
        recomputes the keep set with that consumer visible, so a registration
        ordered before the floor commit can never lose its resume floor. A
        registration ordered after it is, by that serialization, too late for
        THIS expiry (its version can only be below the floor if the consumer
        was already laggard enough to be in bootstrap territory)."""
        while True:
            active: list[int] = []
            evicted: list[str] = []
            cur = self.current()
            if respect_consumers:
                consumers = dict(cur.properties.get("consumers", {}))
                stale = [
                    cid
                    for cid, v in consumers.items()
                    if max_consumer_lag is not None
                    and cur.version - int(v) > max_consumer_lag
                ]
                evicted = stale
                active = [int(v) for cid, v in consumers.items() if cid not in stale]
            versions = self.versions()
            if len(versions) <= keep_last:
                return 0
            keep = set(versions[-keep_last:])
            if active:
                keep.update(v for v in versions if v >= min(active))
            if not respect_consumers:
                break
            props = dict(cur.properties)
            if evicted:
                props["consumers"] = {
                    cid: v
                    for cid, v in dict(props.get("consumers", {})).items()
                    if cid not in evicted
                }
            props["retention_floor"] = min(keep)
            try:
                nxt = self.publish_next(cur, properties=props)
                keep.add(nxt.version)  # the floor commit itself is the head
                break
            except CommitConflict:
                continue  # racing registration/commit — recompute keep set
        live: set[str] = set()
        live_segments: set[str] = set()
        for v in keep:
            kept = self.snapshot_at(v)
            live.update(f["path"] for f in kept.files)
            live_segments.update(s["path"] for s in kept.segments or [])
        fs = get_fs()
        removed = 0
        for v in versions:
            if v not in keep:
                for f in self.snapshot_at(v).files:
                    if f["path"] not in live and fs.exists(f["path"]):
                        fs.remove(f["path"])
                        removed += 1
                fs.remove(self._manifest_path(v))
        # GC segment files no kept manifest references — expired versions'
        # private segments plus orphans from losing CAS attempts. The grace
        # window protects segments of IN-FLIGHT commits (written before their
        # snapshot publish): the epoch in the filename is the write time.
        grace_s = float(
            cur.properties.get("segment_gc_grace_s", DEFAULT_SEGMENT_GC_GRACE_S)
        )
        now_ms = time.time() * 1000
        mdir = os.path.join(self.root, MANIFEST_DIR)
        for name in fs.listdir(mdir):
            if not (name.startswith(SEGMENT_PREFIX) and name.endswith(".json")):
                continue
            p = os.path.join(mdir, name)
            if p in live_segments:
                continue
            try:
                born_ms = int(name[len(SEGMENT_PREFIX) :].split("-", 1)[0])
            except ValueError:
                continue
            if now_ms - born_ms >= grace_s * 1000:
                fs.remove(p)
                _SEGMENT_CACHE.pop(p, None)
        # sweep empty commit dirs
        data_root = os.path.join(self.root, DATA_DIR)
        for d in fs.listdir(data_root):
            p = os.path.join(data_root, d)
            if fs.isdir(p) and not any(True for _ in fs.walk_files(p)):
                fs.rmtree(p)
        return removed

    # ---------------------------------------------------------------- internals
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, MANIFEST_DIR, f"v{version:010d}.json")

    def _latest_version(self) -> int | None:
        """Resolve the head version: hint + probe-forward (normally ONE
        existence check), with the full listing as the fallback when the hint
        is missing, unreadable, or points at an expired manifest. The hint is
        ADVISORY — correctness never depends on it, because a stale hint can
        only be BEHIND the head (it is written after the publish), and
        probing forward from behind still lands on the head."""
        fs = get_fs()
        try:
            v = int(fs.read_text(os.path.join(self.root, VERSION_HINT)).strip())
        except Exception:
            v = None
        if v is not None and v > 0 and fs.exists(self._manifest_path(v)):
            while fs.exists(self._manifest_path(v + 1)):
                v += 1
            return v
        vs = self.versions()
        return vs[-1] if vs else None

    def _segment_layout(self, snap: Snapshot) -> list[dict]:
        """Derive the two-level layout for `snap` by diffing its entry list
        against the parent's persisted segments.

        Reuses every parent segment whose entries ALL survive unchanged
        (identity by full-entry equality, so a replaced entry for the same
        path counts as remove+add); everything else — new entries plus the
        survivors of shrunk segments — lands in ONE new segment file written
        before the snapshot publish. When the layout would exceed
        `manifest_max_segments` the whole list coalesces into a single
        segment: an O(table) rewrite at 1/K frequency, i.e. amortized
        O(table/K) per commit (the LSM bound)."""
        new_by_path = {f["path"]: f for f in snap.files}
        reused: list[dict] = []
        pool: list[dict] = []
        claimed: set[str] = set()
        if snap.parent is not None:
            try:
                parent_doc = json.loads(
                    get_fs().read_text(self._manifest_path(snap.parent))
                )
                parent_segs = parent_doc.get("segments") or []
            except Exception:
                # parent unreadable (expired under us / inline v1): no reuse —
                # correctness is preserved, the publish CAS still arbitrates
                parent_segs = []
            for seg in parent_segs:
                try:
                    entries = _load_segment(seg["path"])
                except Exception:
                    continue  # vanished segment: its survivors fall to the pool
                survivors = [
                    e
                    for e in entries
                    if e["path"] not in claimed and new_by_path.get(e["path"]) == e
                ]
                if len(survivors) == len(entries) and entries:
                    reused.append(seg)
                else:
                    pool.extend(survivors)
                claimed.update(e["path"] for e in survivors)
        pool.extend(f for f in snap.files if f["path"] not in claimed)
        max_segments = int(
            snap.properties.get("manifest_max_segments", DEFAULT_MAX_SEGMENTS)
        )
        if len(reused) + (1 if pool else 0) > max_segments:
            pool = list(snap.files)
            reused = []
        segments = list(reused)
        if pool:
            name = f"{SEGMENT_PREFIX}{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:12]}.json"
            seg_path = os.path.join(self.root, MANIFEST_DIR, name)
            try:
                get_fs().publish_if_absent(json.dumps(pool), seg_path)
            except FileExistsError:
                # the name is ours alone (uuid): an exists on retry is the
                # ambiguous-success case — the atomic publish already landed
                pass
            if len(_SEGMENT_CACHE) >= _SEGMENT_CACHE_MAX:
                _SEGMENT_CACHE.clear()
            _SEGMENT_CACHE[seg_path] = pool
            segments.append({"path": seg_path, "n_files": len(pool)})
        return segments

    def _write_manifest(self, snap: Snapshot) -> None:
        # publish_if_absent is THE storage commit primitive (see lake/fsio.py
        # for the HDFS create(overwrite=false) / S3 conditional-PUT mapping).
        # Segments are published FIRST (immutable, uniquely named); a crash or
        # a losing CAS leaves only grace-window-GC'd orphans, never a
        # published snapshot with missing entries.
        segments = self._segment_layout(snap)
        body = json.dumps(
            {
                "version": snap.version,
                "current_schema_id": snap.current_schema_id,
                "schemas": snap.schemas,
                "n_buckets": snap.n_buckets,
                "bucket_key": snap.bucket_key,
                "segments": segments,
                "txn": snap.txn,
                "properties": snap.properties,
                "parent": snap.parent,
                "committed_at": snap.committed_at,
            }
        )
        try:
            get_fs().publish_if_absent(body, self._manifest_path(snap.version))
        except FileExistsError as e:
            raise CommitConflict(f"version {snap.version} already committed") from e
        snap.segments = segments
        try:
            # best-effort: a lost/stale hint only costs the reader a probe or
            # a listing fallback, never correctness (see _latest_version)
            get_fs().write_text_atomic(
                str(snap.version), os.path.join(self.root, VERSION_HINT)
            )
        except Exception:
            pass


def _align(df: DataFrame, written: StructType, target: StructType) -> DataFrame:
    """Project a file group written under an old schema onto the current schema."""
    have = {f.name: f for f in written.fields}
    cols = []
    for f in target.fields:
        if f.name in have:
            if have[f.name].dataType == f.dataType:
                cols.append(F.col(f.name))
            else:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


_WIDENINGS = {
    ("integer", "long"),
    ("integer", "double"),
    ("float", "double"),
    ("long", "double"),
    ("date", "timestamp"),
}


def _check_compatible_evolution(old: StructType, new: StructType) -> None:
    new_names = {f.name for f in new.fields}
    for f in old.fields:
        if f.name not in new_names:
            raise ValueError(f"schema evolution cannot drop column {f.name!r}")
        nf = new[f.name]
        if nf.dataType != f.dataType:
            pair = (f.dataType.typeName(), nf.dataType.typeName())
            if pair not in _WIDENINGS:
                raise ValueError(
                    f"incompatible type change for {f.name!r}: "
                    f"{f.dataType.simpleString()} -> {nf.dataType.simpleString()}"
                )
