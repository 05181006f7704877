"""The ingest workload: a bootstrapping node catches up on a backlog.

catchup
    A bootstrapping node replays a backlog: 24 LSN-ordered segments applied by
    ``IngestEngine.run`` (merge-on-read, 64 buckets, availableNow, 16 files per
    trigger, so two big batches), then the whole resolved view is read. An
    untimed warm-up pass over the first segments comes first. Each pass starts
    from an empty table; the number of passes follows from ``--seconds``
    (``PASS_SECONDS``), and the metrics are totals over them. After the
    passes, a fresh ``ChainedConsumer`` child catches up from the warm-up
    pass's table and the eight buckets of that table with the most delta rows
    are folded, so the chain and maintenance layers run inside the timed
    window too.

Latency of a segment is the time from pass start to the commit time of the
first manifest version whose lineage high-watermarks cover it.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

from cpuclock import tree_cpu_s
from check import oracle_digest, view_digest, visible_at, write_feed
from spans import pct

CATCHUP = dict(segments=16, seg_events=4000, files_per_trigger=8, warm_segments=2, warm_passes=2,
               n_buckets=64, n_convs=12_000)
# Seconds of `--seconds` per timed pass, a pass's length on a quiet 4-vCPU
# host. The number of passes follows from --seconds alone, never from how
# fast the host runs: the JVM is still compiling hot code through the first
# passes (a pass's CPU time falls by half over five), so a count that varied
# with the host's speed would move the metrics with it.
PASS_SECONDS = 2.5
CHILD_BUCKETS = 8
FOLD_BUCKETS = 8


def _progress(query) -> list[dict]:
    """Phase durations (ms) of each micro-batch the query reports."""
    return [{k: float(v) for k, v in p.durationMs.items()} for p in query.recentProgress]


def _read_view(ctx, root: str) -> tuple[float, float]:
    """Plan and fully execute the live transcript view; returns its wall and
    CPU seconds."""
    from aqueduct_core_spark import transcripts
    from aqueduct_core_spark.lake import LakeTable

    c, t = tree_cpu_s(), time.perf_counter()
    df = transcripts.read_transcripts(LakeTable(ctx.spark, root))
    with ctx.tracer.span("read_transcripts.exec", "transcripts"):
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t, tree_cpu_s() - c


def _view_arrow(ctx, root: str):
    from aqueduct_core_spark import transcripts
    from aqueduct_core_spark.lake import LakeTable

    return transcripts.read_transcripts(LakeTable(ctx.spark, root)).toArrow()


# ------------------------------------------------------------------- catchup
def _catchup_pass(ctx, log_dir: str, root: str) -> dict:
    from aqueduct_core_spark.streaming.engine import IngestEngine

    eng = IngestEngine(ctx.spark, table_root=f"{root}/tbl", checkpoint_dir=f"{root}/ckpt",
                       n_buckets=CATCHUP["n_buckets"], merge_mode="mor")
    try:
        ctx.collect()
        t_wall, t, c = time.time(), time.perf_counter(), tree_cpu_s()
        query = eng.run(log_dir, max_files_per_trigger=CATCHUP["files_per_trigger"])
        ingest_s, ingest_cpu_s = time.perf_counter() - t, tree_cpu_s() - c
    finally:
        eng.close()
    ctx.collect()
    read_s, read_cpu_s = _read_view(ctx, f"{root}/tbl")
    return {
        "root": root,
        "start": t_wall,
        "ingest_s": ingest_s,
        "ingest_cpu_s": ingest_cpu_s,
        "read_s": read_s,
        "read_cpu_s": read_cpu_s,
        "events": eng.metrics.events_seen,
        "batches": eng.metrics.batches_applied,
        "skipped": eng.metrics.batches_skipped,
        "rows_per_batch": list(eng.metrics.per_batch_rows),
        "progress": _progress(query),
    }


def _chain_and_fold(ctx, root: str) -> dict:
    """A fresh chained child (a smaller node, 8 buckets) catches up from the
    table at `root`, then the FOLD_BUCKETS buckets of that table with the most
    delta rows are folded, hottest first as maintenance would. Returns the
    seconds of each step and the table's delta files before the fold."""
    from aqueduct_core_spark.lake import LakeTable
    from aqueduct_core_spark.maintenance import compact_bucket_range, delta_pressure
    from aqueduct_core_spark.streaming.chain import ChainedConsumer

    child = ChainedConsumer(ctx.spark, f"{root}/tbl", f"{root}/child", n_buckets=CHILD_BUCKETS)
    t = time.perf_counter()
    syncs = child.run_until_caught_up()
    child_s = time.perf_counter() - t
    table = LakeTable(ctx.spark, f"{root}/tbl")
    debt = delta_pressure(table.current())
    hot = sorted(debt, key=lambda b: debt[b][1], reverse=True)[:FOLD_BUCKETS]
    t = time.perf_counter()
    compact_bucket_range(table, None, sorted(hot))
    return {"child_catchup_s": child_s, "child_syncs": len(syncs),
            "fold_s": time.perf_counter() - t,
            "delta_files": sum(n for n, _rows in debt.values())}


def catchup(ctx) -> dict:
    from aqueduct_core_spark.lake import LakeTable

    log_dir = os.path.join(ctx.work, "log")
    t = time.perf_counter()
    segs = write_feed(ctx.spark, log_dir, CATCHUP["segments"], CATCHUP["seg_events"],
                      n_convs=CATCHUP["n_convs"], seed=ctx.seed)
    ctx.setup["feed_s"] = time.perf_counter() - t

    # Warm-up, untimed: a pass over the first segments, whose table the chain
    # and the fold use later, then full passes. A fresh JVM spends its first
    # passes compiling: the first full pass costs twice the CPU time of the
    # third.
    t = time.perf_counter()
    warm_dir = os.path.join(ctx.work, "warm-log")
    os.makedirs(warm_dir)
    for seg in segs[: CATCHUP["warm_segments"]]:
        os.link(seg["path"], os.path.join(warm_dir, os.path.basename(seg["path"])))
    warm_root = os.path.join(ctx.work, "warm")
    _catchup_pass(ctx, warm_dir, warm_root)
    for k in range(CATCHUP["warm_passes"]):
        root = os.path.join(ctx.work, f"warm{k}")
        _catchup_pass(ctx, log_dir, root)
        shutil.rmtree(root)
    ctx.setup["warmup_s"] = time.perf_counter() - t

    # a fixed number of passes, each into a fresh table
    passes, failed = [], 0
    ctx.begin()
    for k in range(max(1, round(ctx.seconds / PASS_SECONDS))):
        try:
            passes.append(_catchup_pass(ctx, log_dir, os.path.join(ctx.work, f"pass{k}")))
        except Exception:
            traceback.print_exc()
            failed += 1
    # A fixed, small amount of chain and maintenance work, on the warm-up
    # table: the same work on a pass's table took as long as the pass.
    chain = None
    try:
        chain = _chain_and_fold(ctx, warm_root)
    except Exception:
        traceback.print_exc()
    ctx.end()
    ctx.units = max(1, len(passes))
    ctx.progress = [p for r in passes for p in r["progress"]]

    latency, unapplied = [], 0
    ok = False
    check = {}
    try:
        with ctx.untraced():
            for r in passes:
                vis = visible_at(LakeTable(ctx.spark, f"{r['root']}/tbl"), segs)
                latency += [v - r["start"] for v in vis if v is not None]
                unapplied += sum(v is None for v in vis)
        if passes and chain:
            want = oracle_digest(log_dir)
            got = view_digest(_view_arrow(ctx, f"{passes[-1]['root']}/tbl"))
            warm_want = oracle_digest(warm_dir)
            warm = view_digest(_view_arrow(ctx, f"{warm_root}/tbl"))
            child = view_digest(_view_arrow(ctx, f"{warm_root}/child"))
            ok = got == want and warm == child == warm_want and unapplied == 0
            check = {"oracle": want, "engine": got,
                     "warm_oracle": warm_want, "warm_folded": warm, "warm_child": child}
    except Exception:
        traceback.print_exc()
    # totals over the passes: as the JVM warms, each pass is cheaper than the
    # last, and a total weighs every pass where a median picks one
    def total(key):
        return sum(r[key] for r in passes)

    n = max(1, len(passes))
    events_per_s = total("events") / total("ingest_s") if passes else 0.0
    events_per_cpu_s = total("events") / total("ingest_cpu_s") if passes else 0.0
    read_s, read_cpu_s = total("read_s") / n, total("read_cpu_s") / n
    return {
        "correct": ok,
        # batches and the read of each pass, failed passes, child, fold, check
        "attempted": sum(r["batches"] + 1 for r in passes) + failed + 3,
        "failed": failed + 2 * (chain is None) + (not ok),
        "metrics": {
            "throughput_per_cpu_s": events_per_cpu_s,
            "view_cpu_s": read_cpu_s,
        },
        "engine": {
            "batches_skipped": sum(r["skipped"] for r in passes),
            "rows_per_batch": [x for r in passes for x in r["rows_per_batch"]],
            "delta_files_end": chain["delta_files"] if chain else 0,
        },
        "detail": {
            "catchup_events_per_s": events_per_s,
            "catchup_read_s": read_s,
            "latency_p50_s": pct(latency, 50),
            "latency_p90_s": pct(latency, 90),
            "passes": len(passes),
            "events_per_pass": passes[0]["events"] if passes else 0,
            "latency_samples": len(latency),
            "unapplied_segments": unapplied,
            "pass_ingest_s": [round(r["ingest_s"], 3) for r in passes],
            "pass_read_s": [round(r["read_s"], 3) for r in passes],
            "pass_ingest_cpu_s": [round(r["ingest_cpu_s"], 2) for r in passes],
            "pass_read_cpu_s": [round(r["read_cpu_s"], 2) for r in passes],
            **(chain or {}),
            "check": check,
            **CATCHUP,
        },
    }
