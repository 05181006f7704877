"""Span recording around calls into the engine's layers, plus Spark event-log totals.

The benchmark wraps public functions of each module from the outside (see
``install``); nothing inside the package is changed. Each wrapped call records a
span (id, parent, name, layer, thread, start, end, attrs) in memory; the spans
are written out once, at the end of a run.

Parents follow the calling thread. Work a traced call hands to a fork-join
thread pool (footer harvest, parallel bucket-range folds) keeps the caller as
its parent. The engine's own long-lived pools (``lineage``, ``compaction``)
do not: their tasks run beside the call that submitted them, not inside it.
"""

from __future__ import annotations

import concurrent.futures
import functools
import itertools
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

# Pools whose tasks outlive the submitting call: no parent link through them.
_DETACHED_POOLS = ("lineage", "compaction")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.active = False
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple] = []

    # ------------------------------------------------------------ recording
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.active:
            yield {}
            return
        st = self._stack()
        sp = {
            "id": next(self._ids),
            "parent": st[-1]["id"] if st else None,
            "name": name,
            "layer": layer,
            "thread": threading.current_thread().name,
            "start": time.perf_counter(),
            **attrs,
        }
        st.append(sp)
        try:
            yield sp
        except BaseException as e:
            sp["error"] = type(e).__name__
            raise
        finally:
            sp["end"] = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(sp)

    # ------------------------------------------------------------- patching
    def wrap(self, fn, name: str, layer: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer) as sp:
                out = fn(*args, **kwargs)
                if after is not None and tracer.active:
                    after(sp, args, kwargs, out)
            return out

        return traced

    def patch_method(self, cls, attr: str, layer: str, after=None) -> None:
        orig = cls.__dict__[attr]
        setattr(cls, attr, self.wrap(orig, attr, layer, after))
        self._undo.append((cls, attr, orig))

    def patch_function(self, fn, layer: str, after=None) -> None:
        """Replace every module-level reference to `fn` in the package (a
        function imported by name lives in several module namespaces)."""
        traced = self.wrap(fn, fn.__name__, layer, after)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("aqueduct_core_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, traced)
                    self._undo.append((mod, attr, fn))

    def patch_pools(self) -> None:
        """Carry the submitting span into fork-join pool tasks."""
        orig = concurrent.futures.ThreadPoolExecutor.submit
        tracer = self

        def submit(pool, fn, /, *args, **kwargs):
            st = tracer._stack()
            if not st or pool._thread_name_prefix.startswith(_DETACHED_POOLS):
                return orig(pool, fn, *args, **kwargs)
            parent = st[-1]

            def run(*a, **kw):
                inner = tracer._stack()
                inner.append(parent)
                try:
                    return fn(*a, **kw)
                finally:
                    inner.pop()

            return orig(pool, run, *args, **kwargs)

        concurrent.futures.ThreadPoolExecutor.submit = submit
        self._undo.append((concurrent.futures.ThreadPoolExecutor, "submit", orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(sp, default=str) + "\n")


def install(tracer: Tracer) -> None:
    """Wrap the public calls of each layer the benchmark reports on."""
    from aqueduct_core_spark import maintenance, transcripts
    from aqueduct_core_spark.lake import fsio, merge
    from aqueduct_core_spark.lake.table import LakeTable
    from aqueduct_core_spark.streaming.chain import ChainedConsumer
    from aqueduct_core_spark.streaming.engine import IngestEngine

    def after_write(sp, args, kwargs, entries):
        sp["files"] = len(entries)
        sp["rows"] = [e.get("rows") or 0 for e in entries]
        sp["bytes"] = sum(os.path.getsize(e["path"]) for e in entries)

    def after_changed(sp, args, kwargs, out):
        since = args[1] if len(args) > 1 else kwargs["since_version"]
        sp["versions"] = out[1].version - since
        sp["entries"] = len(out[0])

    def after_fold(sp, args, kwargs, out):
        buckets = args[2] if len(args) > 2 else kwargs["buckets"]
        sp["buckets"] = len(buckets)

    tracer.patch_pools()
    tracer.patch_method(IngestEngine, "apply_batch", "streaming.engine")
    tracer.patch_method(ChainedConsumer, "sync_once", "streaming.chain")
    tracer.patch_function(merge.changed_entries, "streaming.chain", after_changed)
    tracer.patch_function(merge.merge_change_batch, "lake.merge")
    tracer.patch_function(merge.read_resolved, "lake.merge")
    tracer.patch_method(LakeTable, "write_files", "lake.table", after_write)
    tracer.patch_method(LakeTable, "try_commit", "lake.table")
    tracer.patch_method(LakeTable, "snapshot_at", "lake.table")
    tracer.patch_method(LakeTable, "read_entries", "lake.table",
                        lambda sp, a, kw, out: sp.update(entries=len(a[1])))
    tracer.patch_method(fsio.LocalFS, "parquet_footer", "lake.fsio")
    tracer.patch_method(fsio.LocalFS, "publish_if_absent", "lake.fsio")
    tracer.patch_function(maintenance.compact_bucket_range, "maintenance", after_fold)
    tracer.patch_function(transcripts.read_transcripts, "transcripts")


# ---------------------------------------------------------------- analysis
def _union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(intervals) -> float:
    return sum(b - a for a, b in _union(intervals))


def pct(values, q: int) -> float:
    """The q-th percentile (linear interpolation); 0 for no values."""
    if len(values) < 2:
        return float(values[0]) if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Self time per layer and the per-layer counters, from one run's spans.

    A span's self time is its duration minus the part of it covered by its
    children (children on parallel pool threads are merged first)."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] in by_id:
            kids.setdefault(s["parent"], []).append(s)

    def dur(s):
        return s["end"] - s["start"]

    def self_time(s):
        inner = [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids.get(s["id"], [])]
        return dur(s) - _covered([iv for iv in inner if iv[1] > iv[0]])

    def under(s, name):
        while s is not None:
            if s["name"] == name:
                return True
            s = by_id.get(s["parent"])
        return False

    def named(name):
        return [s for s in spans if s["name"] == name]

    m: dict[str, float] = {}
    for layer in ("streaming.engine", "streaming.chain", "lake.merge", "lake.table",
                  "lake.fsio", "maintenance", "transcripts"):
        m[f"{layer}.self_s"] = sum(self_time(s) for s in spans if s["layer"] == layer)

    apply = named("apply_batch")
    m["streaming.engine.apply_batch_p50_s"] = pct([dur(s) for s in apply], 50)
    m["streaming.engine.apply_batch_p90_s"] = pct([dur(s) for s in apply], 90)

    m["lake.merge.merge_change_batch_self_s"] = sum(self_time(s) for s in named("merge_change_batch"))
    m["lake.merge.read_resolved_s"] = sum(dur(s) for s in named("read_resolved"))
    merge_commits = [s for s in named("try_commit") if under(s, "merge_change_batch")]
    m["lake.merge.commit_attempts"] = len(merge_commits)
    m["lake.merge.commit_conflicts"] = sum(1 for s in merge_commits if s.get("error") == "CommitConflict")

    writes = named("write_files")
    rows = [r for s in writes for r in s.get("rows", [])]
    m["lake.table.write_files_self_s"] = sum(self_time(s) for s in writes)
    m["lake.table.files_written"] = sum(s.get("files", 0) for s in writes)
    m["lake.table.bytes_written"] = sum(s.get("bytes", 0) for s in writes)
    m["lake.table.rows_per_file_p50"] = pct(rows, 50)
    m["lake.table.try_commit_s"] = sum(dur(s) for s in named("try_commit"))
    m["lake.table.try_commit_calls"] = len(named("try_commit"))
    m["lake.table.snapshot_reads"] = len(named("snapshot_at"))
    m["lake.table.snapshot_read_s"] = sum(dur(s) for s in named("snapshot_at"))

    m["lake.fsio.parquet_footer_calls"] = len(named("parquet_footer"))
    m["lake.fsio.parquet_footer_s"] = sum(dur(s) for s in named("parquet_footer"))
    m["lake.fsio.publish_if_absent_s"] = sum(dur(s) for s in named("publish_if_absent"))

    folds = named("compact_bucket_range")
    m["maintenance.folds"] = len(folds)
    m["maintenance.compact_bucket_range_s"] = sum(dur(s) for s in folds)
    m["maintenance.buckets_folded"] = sum(s.get("buckets", 0) for s in folds)

    syncs = named("sync_once")
    changed = [s for s in named("changed_entries") if under(s, "sync_once")]
    m["streaming.chain.sync_once_s"] = sum(dur(s) for s in syncs)
    m["streaming.chain.syncs"] = len(syncs)
    m["streaming.chain.versions_walked"] = sum(s.get("versions", 0) for s in changed)
    m["streaming.chain.changed_entries_s"] = sum(dur(s) for s in changed)
    m["streaming.chain.entries_read"] = sum(
        s.get("entries", 0) for s in named("read_entries") if under(s, "sync_once")
    )

    m["transcripts.plan_s"] = sum(dur(s) for s in named("read_transcripts"))
    m["transcripts.exec_s"] = sum(dur(s) for s in named("read_transcripts.exec"))
    return m


# ------------------------------------------------------------ Spark event log
def eventlog_metrics(log_dir: str, t0: float, t1: float) -> dict[str, float]:
    """Task totals of the jobs that ran inside [t0, t1] (epoch seconds), read
    from an uncompressed Spark event log."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    tasks: dict[int, list[dict]] = {}
    jobs = stages = 0
    for root, _dirs, files in os.walk(log_dir):
        for fn in sorted(files):
            if fn.startswith((".", "appstatus")):  # checksums and status markers
                continue
            with open(os.path.join(root, fn)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerTaskEnd":
                        info = ev["Task Info"]
                        if lo <= info["Launch Time"] <= hi and ev.get("Task Metrics"):
                            tasks.setdefault(ev["Stage ID"], []).append(ev["Task Metrics"])
                    elif kind == "SparkListenerJobStart":
                        jobs += lo <= ev.get("Submission Time", 0) <= hi
                    elif kind == "SparkListenerStageCompleted":
                        stages += lo <= ev["Stage Info"].get("Submission Time", 0) <= hi

    def run_s(t):
        return t.get("Executor Run Time", 0) / 1000.0

    all_tasks = [t for ts in tasks.values() for t in ts]
    heavy = max(tasks.values(), key=lambda ts: sum(map(run_s, ts)), default=[])
    return {
        "spark.task_s": sum(map(run_s, all_tasks)),
        "spark.executor_cpu_s": sum(t.get("Executor CPU Time", 0) for t in all_tasks) / 1e9,
        "spark.shuffle_read_bytes": sum(
            t["Shuffle Read Metrics"].get("Remote Bytes Read", 0)
            + t["Shuffle Read Metrics"].get("Local Bytes Read", 0)
            for t in all_tasks
        ),
        "spark.shuffle_write_bytes": sum(
            t["Shuffle Write Metrics"].get("Shuffle Bytes Written", 0) for t in all_tasks
        ),
        "spark.spill_bytes": sum(
            t.get("Memory Bytes Spilled", 0) + t.get("Disk Bytes Spilled", 0) for t in all_tasks
        ),
        "spark.gc_s": sum(t.get("JVM GC Time", 0) for t in all_tasks) / 1000.0,
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.heavy_stage_max_task_s": max(map(run_s, heavy), default=0.0),
        "spark.heavy_stage_median_task_s": statistics.median(map(run_s, heavy)) if heavy else 0.0,
    }
