"""Structured Streaming CDC ingest: tail the ordered change log, apply exactly-once.

The Spark restatement of the reference's tail-and-apply loop (SURVEY.md section 3.2):

  reference                                       this engine
  ---------                                       -----------
  HttpPipeClient poll /pipe/{offset}              readStream over LSN-ordered parquet
    (pipe-http-client/.../HttpPipeClient.java:36-63)   segments, maxFilesPerTrigger
  Retry-After pacing / rate limiter               trigger interval / availableNow +
    (PipeRateLimiter.java:8-18)                        maxFilesPerTrigger admission
  SQLite one-tx apply (events+offsets+state)      foreachBatch -> ONE atomic lake
    (SQLiteStorage.java:134-171)                       commit: MERGE + lineage + state
  offset registers (OffsetName.java:3-5)          checkpointed source offsets + the
                                                       manifest's lineage watermarks
  bootstrap-from-zero (BootstrapService.java)     drop checkpoint + recreate table

Exactly-once: Spark's checkpoint prevents re-delivery of a completed batch; if a
crash lands between the lake commit and the checkpoint commit, the batch is replayed
with the SAME batch_id and the merge's txn register skips it (idempotent). This is
verified by tests/test_streaming.py::test_crash_between_commit_and_checkpoint.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aqueduct_core_spark.lake.merge import merge_change_batch
from aqueduct_core_spark.lake.table import LakeTable
from pyspark.sql.types import StructField, StructType

from aqueduct_core_spark.schema import CHANGE_EVENT_SCHEMA, TRANSCRIPT_PHYSICAL_SCHEMA
from aqueduct_core_spark.sources import read_feed


def _tag(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()[:10]


def _writer_id(checkpoint_dir: str) -> str:
    """The default writer id, scoped to the checkpoint dir: a NEW streaming
    query restarts batch ids at 0, so the idempotence watermark must be
    per-query, not global (else fresh queries are wrongly skipped by an older
    query's txn register)."""
    return f"cdc-{_tag(checkpoint_dir)}"


@dataclass(frozen=True)
class FeedSource:
    """One feed's drain state: the Spark checkpoint bound to its path, the
    writer id of its exactly-once txn register and its replay floor (events
    at/below `min_lsn` are already applied)."""

    checkpoint_dir: str
    writer_id: str
    min_lsn: int | None


@dataclass
class IngestMetrics:
    batches_applied: int = 0
    batches_skipped: int = 0
    events_seen: int = 0
    last_batch_id: int = -1
    per_batch_rows: list[int] = field(default_factory=list)
    #: newest event timestamp seen (datetime; the feed-recency signal)
    last_event_ts: object = None
    #: malformed events diverted to the dead-letter sink (quarantine_dir)
    events_quarantined: int = 0


class IngestEngine:
    """Tails a change-event feed and applies it to the transcript lake table."""

    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        checkpoint_dir: str,
        n_buckets: int = 16,
        merge_mode: str = "mor",  # only "mor" (append deltas, resolve at
        # read, fold at compaction); kept for callers that still pass it
        salt: int = 0,  # >1 = explicit salted pre-collapse for duplicate storms
        writer_id: str | None = None,  # default: _writer_id(checkpoint_dir)
        routing_filter: list[int] | None = None,
        entity_filter: list[str] | None = None,
        min_lsn: int | None = None,  # replay floor: events at/below are already
        # applied (the reference client's "GET /pipe/{offset} from my local
        # offset" — used when adopting a new mirror after failover)
        fail_after_batches: int | None = None,  # test hook: crash injection
        fail_point: str = "before_commit",  # 'before_commit' | 'after_commit'
        transform=None,  # (DataFrame -> DataFrame) payload transform, e.g.
        # functions.transforms.normalize_payload — Arrow-vectorized, applied
        # before dedup/merge (the engine's pandas-UDF extension point)
        compaction_policy=None,  # maintenance.CompactionPolicy: after each
        # commit, fold delta files in any bucket whose manifest-recorded MOR
        # debt exceeds the policy (self-tuning CompactionTask — data-driven,
        # not cron). None = never auto-compact (caller-scheduled maintenance).
        quarantine_dir: str | None = None,  # dead-letter sink: malformed
        # events (NULL lsn/key/ts, unknown op — anything the LWW semantics
        # cannot order) are appended here as parquet with a `_reason` column
        # instead of poisoning the merge. At-least-once (a crash between the
        # quarantine append and the checkpoint re-appends on replay) — the
        # DLQ contract; dedup downstream by (change_lsn, _reason) if needed.
        # None = feed is trusted, zero extra scans (the bench/replay path).
        table_properties: dict | None = None,  # extra snapshot properties at
        # CREATE time (ignored for an existing table), e.g.
        # compaction.target_file_rows to time-cluster base rewrites so
        # windowed reads prune files (see lake.table.cluster_opts).
    ):
        self.spark = spark
        self.table_root = table_root
        self.checkpoint_dir = checkpoint_dir
        if merge_mode != "mor":
            raise ValueError(f"merge_mode must be 'mor', got {merge_mode!r}")
        self.n_buckets = n_buckets
        self.table_properties = dict(table_properties or {})
        self.salt = salt
        self.writer_id = writer_id if writer_id is not None else _writer_id(checkpoint_dir)
        self.routing_filter = routing_filter
        self.entity_filter = entity_filter
        self.min_lsn = min_lsn
        self.fail_after_batches = fail_after_batches
        self.fail_point = fail_point
        self.transform = transform
        self.compaction_policy = compaction_policy
        self.compactions_triggered = 0
        self.quarantine_dir = quarantine_dir
        self.metrics = IngestMetrics()
        #: the mirror a tail() round is draining (None: the engine's own
        #: checkpoint, writer id and floor — see _source)
        self._mirror: FeedSource | None = None
        # one worker: foreachBatch is sequential, the pool exists only so the
        # lineage aggregate runs as a concurrent Spark job beside the merge
        from concurrent.futures import ThreadPoolExecutor

        self._lineage_pool = ThreadPoolExecutor(
            max_workers=1, thread_name_prefix="lineage"
        )
        # background maintenance worker, created on first use
        # (_schedule_maintenance)
        self._compaction_pool = None
        self._compaction_future = None

    def _harvest_compaction(self, wait: bool = False):
        """Collect a finished (or, with wait=True, in-flight) background fold
        into the metrics. Errors propagate — a failed fold surfaces on the
        next batch instead of dying silently on a daemon thread."""
        fut = self._compaction_future
        if fut is None or (not wait and not fut.done()):
            return
        self._compaction_future = None
        self.compactions_triggered += len(fut.result())

    def drain_compaction(self) -> None:
        """Block until any in-flight background fold lands (bounded: at most
        one is ever outstanding)."""
        self._harvest_compaction(wait=True)

    def close(self) -> None:
        """Release the worker threads, letting an in-flight compaction land
        (its commit is atomic and rebase-on-conflict-safe either way, but
        waiting keeps compactions_triggered accurate). Idempotent."""
        self._lineage_pool.shutdown(wait=False, cancel_futures=True)
        if self._compaction_pool is not None:
            try:
                self.drain_compaction()
            except Exception:
                pass  # teardown must not mask the error being handled
            self._compaction_pool.shutdown(wait=True)

    def __del__(self):  # best-effort backstop; close() is the real contract
        try:
            self._lineage_pool.shutdown(wait=False, cancel_futures=True)
            if self._compaction_pool is not None:
                self._compaction_pool.shutdown(wait=False)
        except Exception:
            pass

    # ------------------------------------------------------------------ table
    def ensure_table(self) -> LakeTable:
        if LakeTable.exists(self.table_root):
            return LakeTable(self.spark, self.table_root)
        return LakeTable.create(
            self.spark,
            self.table_root,
            TRANSCRIPT_PHYSICAL_SCHEMA,
            bucket_key="conv_id",
            n_buckets=self.n_buckets,
            properties=self.table_properties,
        )

    # ------------------------------------------------------------ bootstrap
    # Reference state machine (BootstrapType.java, BootstrapService.java:37-87)
    # mapped onto this engine:
    #   provider   <-> the transcript lake table (the applied store)
    #   pipe       <-> the streaming checkpoint (source offsets) + this
    #                  writer's exactly-once txn register in the manifest
    #   controller <-> read availability = the pipe_state table property

    def bootstrap(
        self,
        bootstrap_type: str = "PIPE_AND_PROVIDER",
        delay_ms: int = 0,
        sleep_fn=None,
    ) -> None:
        """Execute one bootstrap transition. Variants:

        * NONE                     — no-op (registry said nothing to do).
        * PROVIDER                 — recreate the table, KEEP the checkpoint:
          only events after the current source offsets will land.
        * PIPE                     — reset the checkpoint (and clear this
          writer's txn watermark so replayed batch ids are not skipped as
          already-committed), KEEP the table: the full feed re-applies
          idempotently over the existing state.
        * PIPE_AND_PROVIDER        — full reset, replay from zero.
        * PIPE_WITH_DELAY / PIPE_AND_PROVIDER_WITH_DELAY — same, sleeping
          `delay_ms` between reset and restart (reference default 5 min +
          registry interval, "allow all nodes to reset",
          BootstrapService.java:28-30).
        * CORRUPTION_RECOVERY      — full reset including any partial
          manifest state (the corruptionManager.reset() analog).
        """
        import time as _t

        from aqueduct_core_spark.lake.fsio import get_fs

        sleep = sleep_fn if sleep_fn is not None else _t.sleep
        bt = bootstrap_type.upper()
        if bt == "NONE":
            return
        valid = {
            "PROVIDER",
            "PIPE",
            "PIPE_AND_PROVIDER",
            "PIPE_WITH_DELAY",
            "PIPE_AND_PROVIDER_WITH_DELAY",
            "CORRUPTION_RECOVERY",
        }
        if bt not in valid:
            raise ValueError(f"unknown bootstrap type {bootstrap_type!r}")

        reset_provider = bt in {
            "PROVIDER",
            "PIPE_AND_PROVIDER",
            "PIPE_AND_PROVIDER_WITH_DELAY",
            "CORRUPTION_RECOVERY",
        }
        reset_pipe = bt != "PROVIDER"

        # storage-agnostic resets (lake/fsio.py is the object-store seam)
        fs = get_fs()
        if reset_provider:
            fs.rmtree(self.table_root)
        if reset_pipe:
            # the mirror checkpoints tail() keeps under checkpoint_dir go too
            ckpts = fs.listdir(self.checkpoint_dir) if fs.isdir(self.checkpoint_dir) else []
            writers = [self.writer_id] + [
                _writer_id(os.path.join(self.checkpoint_dir, d))
                for d in ckpts
                if d.startswith("mirror-")
            ]
            fs.rmtree(self.checkpoint_dir)
            if not reset_provider and LakeTable.exists(self.table_root):
                # pipe-only reset: a fresh streaming query restarts batch ids
                # at 0 under the SAME writer ids (each is scoped to its
                # checkpoint path) — drop their txn watermarks or every
                # replayed batch would be skipped as already-committed.
                self._clear_txn_watermark(writers)
        if bt.endswith("WITH_DELAY") and delay_ms > 0:
            sleep(delay_ms / 1000.0)
        if reset_provider:
            self.ensure_table()

    def _clear_txn_watermark(self, writer_ids: list[str]) -> None:
        """Remove these writers' batch-id watermarks (and mark the pipe
        OUT_OF_DATE) in one atomic manifest commit."""
        LakeTable(self.spark, self.table_root).commit(
            lambda snap: {
                "txn": {k: v for k, v in snap.txn.items() if k not in writer_ids},
                "properties": {**snap.properties, "pipe_state": "OUT_OF_DATE"},
            }
        )

    def validate_table(self) -> bool:
        """Manifest integrity check: the current manifest parses, its schema
        loads, and every listed data file exists (the engine's PRAGMA
        integrity_check analog)."""
        from aqueduct_core_spark.lake.fsio import get_fs

        try:
            snap = LakeTable(self.spark, self.table_root).current()
            snap.schema()
        except Exception:
            return False
        fs = get_fs()
        return all(fs.exists(f["path"]) for f in snap.files)

    def auto_bootstrap_if_corrupt(self) -> bool:
        """Corruption-triggered bootstrap: a failed integrity check triggers
        CORRUPTION_RECOVERY (reference: integrity failure -> full reset,
        BootstrapService.java:80-86). Returns True when a reset happened."""
        if self.validate_table():
            return False
        self.bootstrap("CORRUPTION_RECOVERY")
        return True

    def bootstrap_if_stale(
        self, last_registration_time: float, threshold_s: float, now: float | None = None
    ) -> bool:
        """Stale-node auto-bootstrap (SelfRegistrationTask.java:61-66 +
        isStale:74-77): a node whose last registration predates the deletions
        threshold cannot trust its compacted history — full reset."""
        import time as _t

        t = _t.time() if now is None else now
        if last_registration_time < t - threshold_s:
            self.bootstrap("PIPE_AND_PROVIDER")
            return True
        return False

    # ------------------------------------------------------------------ apply
    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """The foreachBatch body. One atomic lake commit per micro-batch.

        Wave ordering (reference hierarchy T7, SubNodeGroup.java:53-65): the merge
        applies conversation-level records with precedence over turn records via
        the sentinel keys — parents before children within the same commit.
        """
        table = LakeTable(self.spark, self.table_root)
        src = self._source()

        df = batch_df
        bad_obs = bad = None
        if self.quarantine_dir is not None:
            # Dead-letter split (reference analog: per-message rejected-write
            # errors; here a quarantine table). MUST run BEFORE the
            # entity/routing/resume filters: a malformed event is unorderable
            # (NULL lsn/ts) or keyless, and three-valued logic would silently
            # drop it from every filter below (NULL > min_lsn is NULL, NULL
            # entity fails isin) instead of landing it in the DLQ.
            #
            # Single-pass accounting: the malformed count rides as an
            # Observation metric on the batch scan the merge/lineage jobs
            # already run — zero extra jobs on a clean batch; the quarantine
            # append is the ONLY extra job and fires only when malformed rows
            # exist (asserted in tests/test_quarantine.py).
            from pyspark.sql import Observation

            from aqueduct_core_spark.lake.merge import malformed_reason, split_malformed

            bad_obs = Observation()
            df = df.observe(
                bad_obs,
                F.coalesce(
                    F.sum(malformed_reason().isNotNull().cast("long")), F.lit(0)
                ).alias("bad"),
            )
            df, bad = split_malformed(df)
        if self.entity_filter:
            # reference F1 type filter (PostgresqlStorage.java:462)
            df = df.filter(F.col("entity").isin(self.entity_filter))
        if self.routing_filter:
            # reference F3 routing filter (PostgresqlStorage.java:448-454)
            df = df.filter(F.col("routing_id").isin(self.routing_filter))
        if src.min_lsn is not None:
            # reference F2 offset floor: the client resumes from its own
            # offset on a fresh upstream (HttpPipeClient /pipe/{offset})
            df = df.filter(F.col("change_lsn") > F.lit(int(src.min_lsn)))
        if self.transform is not None:
            # Arrow-vectorized payload transform (pandas UDF, no per-row Python)
            df = self.transform(df)

        # Per-routing-partition high watermarks: tiny aggregate (<= #partitions
        # rows) collected on the driver and committed WITH the data. Row count
        # and newest event ts ride in the SAME aggregate (no extra scan) —
        # they feed the adaptive pacer and throughput metrics.
        # routing_id is nullable in CHANGE_EVENT_SCHEMA — NULLs land in the
        # sentinel partition -1 rather than raising inside foreachBatch.
        # The aggregate is its own (column-pruned) pass over the batch, so it
        # runs CONCURRENTLY with the merge's scan+shuffle+write as a separate
        # Spark job; merge_change_batch resolves the lazy provider only at
        # commit-build time, by which the small agg has long finished —
        # overlapping the lineage pass instead of paying it serially.
        agg_fut = self._lineage_pool.submit(
            df.groupBy(F.coalesce(F.col("routing_id"), F.lit(-1)).alias("p"))
            .agg(
                F.max("change_lsn").alias("hw"),
                F.count(F.lit(1)).alias("n"),
                F.max("ts").alias("mt"),
            )
            .collect
        )

        def lineage_rows():
            return [
                {"partition_id": int(r["p"]), "high_watermark_lsn": int(r["hw"])}
                for r in agg_fut.result()
            ]

        if self.fail_after_batches is not None and batch_id >= self.fail_after_batches:
            if self.fail_point == "before_commit":
                agg_fut.result()  # don't leak a running job into the crash
                raise RuntimeError(f"injected crash before commit of batch {batch_id}")

        try:
            result = merge_change_batch(
                table,
                df,
                batch_id=batch_id,
                writer_id=src.writer_id,
                salt=self.salt,
                lineage_rows=lineage_rows,
                pipe_state="OUT_OF_DATE",
            )
        except BaseException:
            # a failed merge must not leak the concurrent lineage job:
            # await it (suppressing its own error) before re-raising
            try:
                agg_fut.result()
            except Exception:
                pass
            raise
        agg_rows = agg_fut.result()
        if bad_obs is not None:
            # non-blocking: the lineage collect above executed the observed
            # plan (it runs even when the merge skipped a replayed batch), so
            # the metric is already resolved
            try:
                n_bad = int(bad_obs.get["bad"])
            except Exception:
                # When the first completed action aggregates the clean side
                # to ZERO rows (an all-malformed or empty batch), AQE's
                # empty-relation propagation wipes the CollectMetrics node
                # and the observed row comes back length-0 (PySpark's get
                # then throws). Degenerate-batch fallback: count the bad
                # side directly — one extra scan, paid only when the clean
                # side was empty.
                n_bad = bad.count()
            if n_bad:
                # the one extra job, paid only when malformed rows exist;
                # at-least-once (a crash before the checkpoint re-appends on
                # replay) — dedup downstream by (change_lsn, _reason) if needed
                bad.withColumn("_batch_id", F.lit(batch_id)).write.mode(
                    "append"
                ).parquet(self.quarantine_dir)
            self.metrics.events_quarantined += n_bad
        batch_rows = sum(int(r["n"]) for r in agg_rows)
        batch_ts = [r["mt"] for r in agg_rows if r["mt"] is not None]
        if batch_ts:
            newest = max(batch_ts)
            if self.metrics.last_event_ts is None or newest > self.metrics.last_event_ts:
                self.metrics.last_event_ts = newest
        self.metrics.events_seen += batch_rows
        self.metrics.per_batch_rows.append(batch_rows)

        if self.fail_after_batches is not None and batch_id >= self.fail_after_batches:
            # crash AFTER the lake commit but BEFORE Spark checkpoints the batch:
            # the restart must replay this batch_id and the merge must skip it.
            raise RuntimeError(f"injected crash after commit of batch {batch_id}")

        if result.skipped:
            self.metrics.batches_skipped += 1
        else:
            self.metrics.batches_applied += 1
        self.metrics.last_batch_id = batch_id

        if not result.skipped:
            self._schedule_maintenance(table)

    def _schedule_maintenance(self, table: LakeTable) -> None:
        """After a committed batch, hand at most one maintenance job to the
        background worker, decided by the compaction policy and the head
        snapshot: a self-tuning delta fold (maybe_compact) when some bucket's
        manifest-recorded debt is over the policy, else, while the table is
        mid-spec-migration and its manifest carries the property
        spec_migration.files_per_commit, one bounded migrate_spec_files step
        (see LakeTable.evolve_bucketing).

        Maintenance runs OFF the foreachBatch thread (the reference runs it on
        its own scheduler, CompactionTask.java:40-47) so a triggered
        multi-bucket fold never stalls the trigger cadence; the check itself
        is driver-side manifest stats only. One worker, created on first use,
        and at most one outstanding job: while it runs, batches keep landing
        and only re-check; the harvest re-raises a failed job on the next
        batch."""
        from aqueduct_core_spark.lake.table import is_mixed_spec
        from aqueduct_core_spark.maintenance import (
            buckets_over_threshold,
            maybe_compact,
            migrate_spec_files,
        )

        self._harvest_compaction()
        if self._compaction_future is not None:
            return
        cur = table.current()
        per = cur.properties.get("spec_migration.files_per_commit")
        policy = self.compaction_policy
        if policy is not None and buckets_over_threshold(cur, policy):
            job = lambda: maybe_compact(table, policy)
        elif per and is_mixed_spec(cur):
            # list-wrapped: _harvest_compaction counts len(result)
            job = lambda: [migrate_spec_files(table, int(per))]
        else:
            return
        if self._compaction_pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._compaction_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="compaction"
            )
        self._compaction_future = self._compaction_pool.submit(job)

    # ------------------------------------------------------------------ run
    def run(
        self,
        log_path: str,
        max_files_per_trigger: int | None = 1,
        available_now: bool = True,
        processing_time: str | None = None,
        timeout_s: float | None = None,
        fmt: str = "parquet",
    ):
        """Start the ingest stream. With available_now=True, drains the feed and
        marks the pipe UP_TO_DATE (reference PipeState, PipeState.java:3-5)."""
        table = self.ensure_table()
        # evolve-then-write: the feed schema follows the table — any evolved
        # user column (beyond the base change-event fields) is read from the
        # feed too, as nullable (old segments without it read as NULL)
        feed_schema = StructType(list(CHANGE_EVENT_SCHEMA.fields))
        base_names = {f.name for f in CHANGE_EVENT_SCHEMA.fields}
        for f in table.current().schema().fields:
            if not f.name.startswith("_") and f.name not in base_names:
                feed_schema.add(StructField(f.name, f.dataType, True))
        reader = self.spark.readStream.schema(feed_schema)
        if fmt == "csv":
            reader = reader.option("header", "true")
        if max_files_per_trigger is not None:
            # batch admission control <-> reference read limit + byte cap (W1/O2)
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.format(fmt).load(log_path)

        writer = stream.writeStream.foreachBatch(self.apply_batch).option(
            "checkpointLocation", self._source().checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        query = writer.start()
        if available_now:
            query.awaitTermination(timeout_s)
            self._mark_up_to_date()
            if self._compaction_pool is not None:
                # the feed is drained; let the (at most one) in-flight fold
                # land so the debt-bounded invariant holds at rest
                self.drain_compaction()
        return query

    def tail(
        self,
        source,
        pacer=None,
        max_rounds: int = 10,
        max_files_per_trigger: int | None = 2,
        stop_after_empty: int = 1,
        sleep_fn=None,
        fmt: str = "parquet",
    ) -> list[dict]:
        """The consumer tail loop: the reference's HttpPipeClient poll cycle
        (HttpPipeClient.java:36-63) with PipeLoadBalancer first-UP selection
        (PipeLoadBalancer.select:27-39) over `source` — a feed path, or a
        registry.ServiceList follow chain.

        A plain path drains through the engine's own checkpoint, writer id
        and floor, exactly as run() does; a read error raises. A mirror of a
        ServiceList drains through its own checkpoint sub-directory (a Spark
        file-stream checkpoint is bound to one source path) under its own
        writer id, with the replay floor at the CURRENT applied watermark —
        the client's "resume from my local offset on a new upstream". The
        floor plus the LWW merge make a switch exactly-once. A mirror whose
        read raises is marked DOWN and the next UP one takes over.

        Each round first revives DOWN mirrors that are reachable AND ahead of
        the applied watermark (PipeServiceInstance health checks; "ahead" and
        not mere reachability, so a frozen mirror cannot livelock
        stall->failover->revive), then drains the first UP source and records
        {url, rows, event, wall_ms, min_lsn}. With a `pacer`
        (pacing.AdaptivePacer) the round also records the Retry-After
        `interval_ms` of its measured wall/rows/recency. A productive round
        sleeps that interval and polls again. An empty round fails over when
        another mirror is ahead (a parent that stopped producing); otherwise
        it counts toward `stop_after_empty` empty rounds, sleeping the
        interval between them, after which the loop returns."""
        import time as _t

        from aqueduct_core_spark.registry import ServiceList

        sleep = sleep_fn if sleep_fn is not None else _t.sleep
        services = source if isinstance(source, ServiceList) else None
        rounds: list[dict] = []
        empty_rounds = 0
        for _ in range(max_rounds):
            url = source
            if services is not None:
                up = services.following()
                for u in self._ahead([u for u in services.all_urls() if u not in up], fmt):
                    services.mark_up(u)
                url = services.first_up()  # raises NoAccessibleService when none
                self._mirror = self._mirror_source(url)
            seen0 = self.metrics.events_seen
            t0 = _t.perf_counter()
            rec = {"url": url, "event": "drained", "min_lsn": self._source().min_lsn}
            try:
                self.run(url, max_files_per_trigger=max_files_per_trigger, fmt=fmt)
            except Exception:
                if services is None:
                    raise
                services.mark_down(url)
                rec["event"] = "error->down"
            finally:
                self._mirror = None
            wall_ms = (_t.perf_counter() - t0) * 1000.0
            rows = self.metrics.events_seen - seen0
            rec.update(rows=rows, wall_ms=wall_ms)
            rounds.append(rec)
            if rec["event"] != "drained":
                continue
            if pacer is not None:
                age = None
                if self.metrics.last_event_ts is not None:
                    age = max(0.0, _t.time() - self.metrics.last_event_ts.timestamp())
                rec["interval_ms"] = pacer.next_interval_ms(wall_ms, rows, newest_event_age_s=age)
            if rows > 0:
                empty_rounds = 0
            else:
                ahead = None
                if services is not None:
                    others = [u for u in services.all_urls() if u != url]
                    ahead = next(self._ahead(others, fmt), None)
                if ahead is not None:
                    # stalled parent: a fallback knows newer data — fail over
                    services.mark_down(url)
                    services.mark_up(ahead)
                    rec["event"] = f"stalled->failover:{ahead}"
                    continue
                empty_rounds += 1
                if empty_rounds >= stop_after_empty:
                    break
            if pacer is not None:
                sleep(rec["interval_ms"] / 1000.0)
        return rounds

    def _source(self) -> FeedSource:
        """The source being drained: a tail() mirror, else the engine's own
        checkpoint, writer id and floor (run(), apply_batch called directly)."""
        if self._mirror is not None:
            return self._mirror
        return FeedSource(self.checkpoint_dir, self.writer_id, self.min_lsn)

    def _mirror_source(self, url: str) -> FeedSource:
        """A follow-chain mirror: checkpoint <checkpoint_dir>/mirror-<md5(url)>
        under writer id cdc-<md5(that path)> (stable, so a restarted engine
        resumes the mirror where it stopped), and the replay floor read from
        the table now — never cached, so a table reset drops it too."""
        ckpt = os.path.join(self.checkpoint_dir, f"mirror-{_tag(url)}")
        floor = self.high_watermark() if LakeTable.exists(self.table_root) else None
        return FeedSource(ckpt, _writer_id(ckpt), floor)

    def high_watermark(self) -> int:
        """Highest applied change LSN across all routing partitions (from the
        committed lineage; -1 on a fresh table)."""
        snap = LakeTable(self.spark, self.table_root).current()
        lineage = snap.properties.get("lineage", {})
        if not lineage:
            return -1
        return max(int(v["high_watermark_lsn"]) for v in lineage.values())

    def _ahead(self, urls: list[str], fmt: str):
        """Yield, in chain order, the mirrors among `urls` whose newest
        visible LSN, read as `fmt` like the tail drains them, is beyond the
        applied watermark — the health-check analog of the reference's GET
        /pipe/_status (an unreadable or empty mirror is not ahead). Lazy:
        probing stops where the caller stops."""
        if urls:
            hw = self.high_watermark()
        for u in urls:
            try:
                latest = read_feed(self.spark, u, fmt=fmt).agg(F.max("change_lsn")).collect()[0][0]
            except Exception:
                continue
            if latest is not None and latest > hw:
                yield u

    def _mark_up_to_date(self) -> None:
        LakeTable(self.spark, self.table_root).commit(
            lambda snap: None
            if snap.properties.get("pipe_state") == "UP_TO_DATE"
            else {"properties": {**snap.properties, "pipe_state": "UP_TO_DATE"}}
        )

    # ------------------------------------------------------------------ state
    def lineage(self) -> DataFrame:
        """The per-partition high-watermark lineage table."""
        snap = LakeTable(self.spark, self.table_root).current()
        rows = [
            (int(pid), int(v["high_watermark_lsn"]), int(v["batch_id"]), float(v["applied_at"]))
            for pid, v in snap.properties.get("lineage", {}).items()
        ]
        return self.spark.createDataFrame(
            rows, "partition_id int, high_watermark_lsn long, batch_id long, applied_at double"
        )

    def pipe_state(self) -> str:
        snap = LakeTable(self.spark, self.table_root).current()
        return snap.properties.get("pipe_state", "UNKNOWN")
