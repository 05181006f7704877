"""The repository benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload {catchup,queries} --seed N \
        --seconds S --trace {0,1}

Runs the engine in one process on ``local[nproc]`` with a pinned
configuration, from the root of a source checkout. The last line of standard
output is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a run whose calls into each layer are timed (plus the end-to-end
metrics of that traced run, prefixed ``traced.``, so the tracing overhead is
the difference from an untraced run). The line before it holds the run's
configuration and workload detail, wall-clock figures included. The timed
end-to-end metrics are CPU seconds of the driver's process tree
(``cpuclock.py``), which do not follow the load other guests put on a shared
host. Scratch data lives in ``perfbench/.work``; the result and, when traced,
the spans go to ``perfbench/.out``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

from cpuclock import tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "3g"
# A fixed heap (initial = max) and young generation keep the JVM's heap
# sizing, and with it peak RSS and GC pauses, the same from run to run. G1
# grows the heap when GC takes a large share of the time, so with adaptive
# sizing peak RSS followed the host's load: it spread by 29% across catch-up
# runs with only the young generation fixed, and by 1.4% with both fixed.
JVM_OPTIONS = "-Xms3g -Xmn512m -XX:-UsePerfData"

# per-layer values that describe one operation rather than add up over a run
NOT_ADDITIVE = {
    "streaming.engine.apply_batch_p50_s", "streaming.engine.apply_batch_p90_s",
    "streaming.engine.rows_per_batch", "lake.table.rows_per_file_p50",
    "maintenance.delta_files_end", "spark.heavy_stage_max_task_s",
    "spark.heavy_stage_median_task_s",
}


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """Name -> unit of the end-to-end and the per-layer metrics, as declared
    in BENCHMARK.json (the one list both the output and its readers use)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


class Context:
    """What a workload gets: the session, its inputs and a place to report."""

    def __init__(self, spark, seed: int, seconds: float, work: str, tracer, tracing: bool):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.tracing = tracing
        self.setup: dict[str, float] = {}
        self.units = 1.0  # units of work in the timed region (passes, schedules)
        self.progress: list[dict] = []  # streaming progress durations of timed queries
        self.window = (0.0, 0.0)
        self.peak_rss_mb = 0.0
        self.steal_share = 0.0
        self.window_cpu_s = 0.0

    def collect(self) -> None:
        """Full garbage collection in Python and the JVM, so what is measured
        next starts from the same heap state on every run rather than from
        wherever GC last left it."""
        gc.collect()
        self.spark._jvm.System.gc()

    def begin(self) -> None:
        self.collect()
        reset_peak_rss()
        self._cpu = cpu_ticks()
        self._tree_cpu = tree_cpu_s()
        self._wall = time.time()
        self.tracer.active = self.tracing

    def end(self) -> None:
        self.tracer.active = False
        self.window = (self._wall, time.time())
        self.peak_rss_mb = peak_rss_mb()
        self.window_cpu_s = tree_cpu_s() - self._tree_cpu
        spent = [b - a for a, b in zip(self._cpu, cpu_ticks())]
        self.steal_share = spent[7] / max(1, sum(spent))

    @contextmanager
    def untraced(self):
        prev, self.tracer.active = self.tracer.active, False
        try:
            yield
        finally:
            self.tracer.active = prev


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "ram_mb": mem_kb // 1024}


def start_spark(work: str, cpus: int, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"{JVM_OPTIONS} -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", log_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    proc = jvm_process()
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _driver_pids() -> list[str]:
    proc = jvm_process()
    return ["self"] + ([str(proc.pid)] if proc is not None else [])


def reset_peak_rss() -> None:
    """Restart the peak-RSS count of both driver processes, so the peak covers
    the timed region only, not session start or input generation."""
    for pid in _driver_pids():
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb() -> float:
    """Peak resident set of this Python driver plus the driver JVM (the sum of
    each process's VmHWM)."""
    total_kb = 0
    for pid in _driver_pids():
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total_kb / 1024.0


def layer_report(ctx, res: dict, spans: list[dict], log_dir: str) -> dict[str, float]:
    from queries import queries_layer_metrics
    from spans import eventlog_metrics, layer_metrics

    prog = ctx.progress
    m = {
        "streaming.source.latest_offset_s": sum(p.get("latestOffset", 0) for p in prog) / 1000,
        "streaming.source.planning_s": sum(p.get("queryPlanning", 0) for p in prog) / 1000,
        "streaming.source.wal_commit_s": sum(p.get("walCommit", 0) for p in prog) / 1000,
        "streaming.source.trigger_overhead_s": sum(
            p.get("triggerExecution", 0) - p.get("addBatch", 0) for p in prog) / 1000,
        "streaming.source.batches": sum("addBatch" in p for p in prog),
    }
    m.update(layer_metrics(spans))
    eng = res.get("engine", {})
    rows = eng.get("rows_per_batch", [])
    m["streaming.engine.rows_per_batch"] = statistics.median(rows) if rows else 0
    m["streaming.engine.batches_skipped"] = eng.get("batches_skipped", 0)
    m["maintenance.delta_files_end"] = eng.get("delta_files_end", 0)
    m.update(queries_layer_metrics(spans))
    m.update(eventlog_metrics(log_dir, *ctx.window))
    return {k: (v if k in NOT_ADDITIVE else v / ctx.units) for k, v in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["catchup", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("aqueduct_core_spark", "__spark_entry__.py", "bench.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a source checkout, missing {missing} under {ROOT}", file=sys.stderr)
        return 2
    units = metric_units()[args.trace]
    sys.path[:0] = [ROOT, HERE]
    import ingest
    import queries
    from spans import Tracer, install

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None

    info = host()
    tracer = Tracer()
    t = time.perf_counter()
    spark = start_spark(work, info["nproc"], bool(args.trace))
    session_s = time.perf_counter() - t
    try:
        if args.trace:
            install(tracer)
        ctx = Context(spark, args.seed, args.seconds, work, tracer, bool(args.trace))
        run = {"catchup": ingest.catchup, "queries": queries.queries}
        res = run[args.workload](ctx)
        import pyspark

        config = {
            **info,
            "spark": pyspark.__version__,
            "master": spark.sparkContext.master,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "driver_memory": DRIVER_MEMORY,
            "jvm_options": JVM_OPTIONS,
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
        }
    finally:
        stop_spark(spark)
        tracer.uninstall()

    e2e = {"setup_s": session_s + sum(ctx.setup.values()), "peak_rss_mb": ctx.peak_rss_mb,
           **res["metrics"]}
    if args.trace:
        metrics = layer_report(ctx, res, tracer.spans, os.path.join(work, "eventlog"))
        metrics.update({f"traced.{k}": v for k, v in e2e.items()})
    else:
        metrics = e2e
    if metrics.keys() != units.keys():
        raise RuntimeError(f"metrics differ from BENCHMARK.json: missing "
                           f"{sorted(units.keys() - metrics.keys())}, "
                           f"undeclared {sorted(metrics.keys() - units.keys())}")
    # CPU time the hypervisor gave to other guests during the timed region: on
    # a shared VM it slows every timed metric at once
    detail = {"config": config, "setup": {"session_s": session_s, **ctx.setup},
              "units": ctx.units, "cpu_steal_share": ctx.steal_share,
              "window_cpu_s": ctx.window_cpu_s, **res["detail"]}
    result = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    out = os.path.join(HERE, ".out")
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    os.makedirs(out, exist_ok=True)
    with open(stem + ".json", "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1, default=str)
    if args.trace:
        tracer.dump(stem + ".spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
