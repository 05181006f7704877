"""Chained pipes: a child table that tails a PARENT lake table's changelog.

This is the reference's entire distribution model re-expressed over the lake:
a pipe serves pipes below it down a binary tree, and every child consumes
`GET /pipe/{offset}` from its PARENT, not from the central log
(registry-core/.../SubNodeGroup.java:53-65 builds the tree;
pipe-http-client/.../HttpPipeClient.java:36-63 is the child's tail loop).
Here the parent's snapshot versions ARE the offsets: a child remembers the
last parent version it applied — atomically, as its own merge batch_id in the
child manifest's txn register — and each sync applies
`read_changes(parent, since=last, until=current)` as one idempotent merge of
already-physical rows (tombstones and cascade sentinels flow through as
rows, so LWW + conversation-delete semantics replicate without re-deriving
anything).

Fallback: a child that fell behind the parent's snapshot retention cannot
replay the missing interval (manifests expired — the reference's
compacted-away offsets). It bootstraps from a full resolved snapshot read
instead, which LWW-converges to the same state; deletes older than the
parent's tombstone retention are purged on both sides by then, exactly the
reference's late-reader contract.

Chains compose: a child table is itself merge-on-read, so a grandchild tails
it the same way (tested three levels deep in tests/test_chain.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from aqueduct_core_spark.lake.merge import (
    changed_entries,
    merge_change_batch,
    read_resolved,
)
from aqueduct_core_spark.lake.table import LakeTable
from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA


@dataclass
class SyncResult:
    applied: bool
    parent_version: int
    since_version: int
    bootstrapped: bool = False  # interval expired -> full-snapshot fallback


@dataclass
class ChainLag:
    """Per-child consumer lag — the chained-pipe form of the reference's
    offset lag the registry reports per node (NodeRegistryControllerV2
    surfaces each node's last-seen offset against the pipe head; here the
    parent's snapshot version is the offset). rows_behind comes from the
    manifest walk's footer row counts — a pure metadata gauge, no data scan;
    it is None when the missing interval fell past the parent's snapshot
    retention (lag is then unquantifiable and a bootstrap is required)."""

    parent_version: int
    applied_version: int
    versions_behind: int
    rows_behind: int | None
    bootstrap_required: bool = False

    @property
    def caught_up(self) -> bool:
        # versions_behind > 0 with rows_behind == 0 means the missing
        # interval holds only metadata commits (consumer registrations,
        # property updates) — nothing to apply, the child is current
        return self.versions_behind == 0 or self.rows_behind == 0


class ChainedConsumer:
    """Tails a parent transcript table into a child table, one version-interval
    merge per sync. Exactly-once by construction: the child's last-applied
    parent version rides in the same atomic manifest commit as the data."""

    def __init__(
        self,
        spark: SparkSession,
        parent_root: str,
        table_root: str,
        n_buckets: int = 16,
        writer_id: str = "chain",
        register_offset: bool = False,  # report the applied version into the
        # parent's `consumers` property after each data sync (the reference's
        # node offset re-registration) so the parent's
        # expire_snapshots(respect_consumers=True) keeps this child's resume
        # interval alive. Opt-in: each registration is a parent metadata
        # commit.
    ):
        self.spark = spark
        self.parent_root = parent_root
        self.table_root = table_root
        self.n_buckets = n_buckets
        self.writer_id = writer_id
        self.register_offset = register_offset

    def ensure_table(self) -> LakeTable:
        if LakeTable.exists(self.table_root):
            return LakeTable(self.spark, self.table_root)
        return LakeTable.create(
            self.spark,
            self.table_root,
            TRANSCRIPT_PHYSICAL_SCHEMA,
            bucket_key="conv_id",
            n_buckets=self.n_buckets,
        )

    def applied_version(self) -> int:
        """Last parent snapshot version this child has applied (1 = fresh
        child: parent version 1 is table creation, no files)."""
        if not LakeTable.exists(self.table_root):
            return 1
        return LakeTable(self.spark, self.table_root).current().txn.get(self.writer_id, 1)

    def lag(self) -> ChainLag:
        """Gauge how far this child trails its parent, without syncing."""
        parent = LakeTable(self.spark, self.parent_root)
        pv = parent.current().version
        last = self.applied_version()
        behind = max(0, pv - last)
        if behind == 0:
            return ChainLag(pv, last, 0, 0)
        try:
            added, _snap = changed_entries(parent, last, pv)
        except ValueError:
            return ChainLag(pv, last, behind, None, bootstrap_required=True)
        # A delta entry without row stats still holds pending data — count it
        # as at least 1 row so caught_up can never read true while un-applied
        # files exist (rows_behind is a floor, exact when every file carries
        # footer stats — which the engine's own writes always do).
        return ChainLag(
            pv,
            last,
            behind,
            sum(f["rows"] if f.get("rows") is not None else 1 for f in added),
        )

    def sync_once(self) -> SyncResult:
        """Apply everything the parent committed since the last sync. No-op
        (and no commit) when the child is already caught up."""
        parent = LakeTable(self.spark, self.parent_root)
        pv = parent.current().version
        child = self.ensure_table()
        # version 1 is table creation (no files), so a fresh child starts there
        last = child.current().txn.get(self.writer_id, 1)
        if pv <= last:
            return SyncResult(applied=False, parent_version=pv, since_version=last)
        # Schema follow: a parent evolution (add column / widen) propagates
        # down the tree before the merge, else the physical cast would
        # silently drop the new column — or narrow a widened one back (the
        # merge aligns the batch to the CHILD schema, so a long parent value
        # over int range would fail the ANSI cast mid-merge). Compare
        # (name, type), not names: a widen changes no names.
        parent_schema = parent.snapshot_at(pv).schema()
        child_fields = {
            (f.name, f.dataType) for f in child.current().schema().fields
        }
        schema_changed = bool(
            {(f.name, f.dataType) for f in parent_schema.fields} - child_fields
        )
        if schema_changed:
            child.evolve_schema(parent_schema)
        bootstrapped = False
        try:
            added, until_snap = changed_entries(parent, last, pv)
        except ValueError:
            # fell past the parent's snapshot retention — the reference's
            # compacted-away offsets: bootstrap from the full resolved view
            batch = read_resolved(parent, version=pv)
            bootstrapped = True
        else:
            if not added and not schema_changed:
                # metadata-only interval (consumer registrations, property
                # updates): nothing to apply and nothing worth a child
                # commit. Skipping WITHOUT advancing the watermark is what
                # prevents a registration ratchet — our own register call
                # below bumps the parent, and chasing that bump would bump
                # it again, forever.
                return SyncResult(applied=False, parent_version=pv, since_version=last)
            batch = parent.read_entries(added, until_snap)
        merge_change_batch(
            child, batch, batch_id=pv, writer_id=self.writer_id, physical=True
        )
        if self.register_offset:
            # report the applied offset upstream (node re-registration): the
            # parent's consumer-aware retention keeps (pv, head] alive for us
            parent.register_consumer(self.writer_id, pv)
        return SyncResult(
            applied=True,
            parent_version=pv,
            since_version=last,
            bootstrapped=bootstrapped,
        )

    def run_until_caught_up(self, max_syncs: int = 1000) -> list[SyncResult]:
        """Sync repeatedly until a round applies nothing (parent idle)."""
        out: list[SyncResult] = []
        for _ in range(max_syncs):
            r = self.sync_once()
            out.append(r)
            if not r.applied:
                break
        return out
