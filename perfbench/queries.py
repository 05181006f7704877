"""The query-suite workload: ``bench.HEADLINE`` over the sf0.01 contract tables.

The tables in ``data/sf0.01`` are the repository's fixed sf0.01 query inputs
(TPC-H-like star schema, an ``events`` log, a ``documents`` corpus and
``embeddings``), the inputs the queries and their ``oracle_sql()`` twins are
written for. A first, untimed round runs every query once, four at a time in
an order fixed by the seed, and keeps its rows for the DuckDB check. Timed
rounds then run the suite one query at a time in ``bench.HEADLINE`` order, as
many rounds as ``--seconds`` holds at ``ROUND_SECONDS`` each. A query's CPU
time depends on what ran before it (first in a shuffled order, some queries
cost twice as much), so the timed order is the same on every run. Plan build
and execution (a no-op sink, so every output column is computed) are timed
apart, and each query's CPU time is taken around both.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from cpuclock import tree_cpu_s
from spans import pct

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# Seconds of `--seconds` per timed round of the suite, a round's length on a
# quiet 4-vCPU host. The number of rounds follows from --seconds alone, never
# from how fast the host runs: the JVM is still compiling hot code through the
# first rounds (a round's CPU time falls by half over five), so a count that
# varied with the host's speed would move the metrics with it.
ROUND_SECONDS = 5.0
WARM_THREADS = 4

LAYERS = {
    "cdc": "operators.cdc_log",
    "olap": "olap",
    "text": "functions.text",
    "dedup": "functions.dedup",
    "ann": "functions.similarity",
}


def layer_of(name: str) -> str:
    return LAYERS[name.split("_", 1)[0]]


def _oracle_check(data_dir: str, results: dict[str, tuple]) -> dict[str, str]:
    """Compare each query's rows with its DuckDB twin; returns name -> problem."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracles import TABLES, norm_rows

    problems = {}
    oracles = entry.oracle_sql()
    with duckdb.connect() as con:
        con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for name, (cols, rows) in results.items():
            try:
                rel = con.sql(oracles[name])
                dcols = [c.lower() for c in rel.columns]
                drows = rel.fetchall()
            except Exception as e:
                problems[name] = f"duckdb error: {e}"
                continue
            scols = [c.lower() for c in cols]
            if sorted(scols) != sorted(dcols):
                problems[name] = f"columns {sorted(scols)} vs {sorted(dcols)}"
            elif norm_rows(scols, rows) != norm_rows(dcols, drows):
                problems[name] = f"rows differ ({len(rows)} vs {len(drows)})"
    return problems


def queries(ctx) -> dict:
    import __spark_entry__ as entry
    from bench import HEADLINE

    order = list(HEADLINE)
    random.Random(ctx.seed).shuffle(order)

    # The untimed first round pays each plan's cold compile cost and keeps its
    # rows for the check. Its queries run side by side, so their one-off costs
    # (class loading, JIT, code generation, Python workers) overlap.
    fns = entry.queries()

    def first(name):
        t = time.perf_counter()
        df = fns[name](ctx.spark, DATA)
        return (df.columns, [tuple(r) for r in df.collect()]), time.perf_counter() - t

    results, cold, failed = {}, {}, 0
    t = time.perf_counter()
    with ThreadPoolExecutor(WARM_THREADS, thread_name_prefix="warm") as pool:
        futures = {name: pool.submit(first, name) for name in order}
        for name, fut in futures.items():
            try:
                results[name], cold[name] = fut.result()
            except Exception:
                traceback.print_exc()
                failed += 1
    ctx.setup["warmup_s"] = time.perf_counter() - t

    # whole rounds of the suite, a fixed number
    times: dict[str, list[float]] = {n: [] for n in HEADLINE}
    cpu: dict[str, list[float]] = {n: [] for n in HEADLINE}
    rounds = max(1, round(ctx.seconds / ROUND_SECONDS))
    round_cpu = []
    ctx.begin()
    for _ in range(rounds):
        round_cpu.append(tree_cpu_s())
        for name in HEADLINE:
            layer = layer_of(name)
            try:
                c, t = tree_cpu_s(), time.perf_counter()
                with ctx.tracer.span(f"{name}.plan", layer):
                    df = fns[name](ctx.spark, DATA)
                with ctx.tracer.span(f"{name}.exec", layer):
                    df.write.format("noop").mode("overwrite").save()
                times[name].append(time.perf_counter() - t)
                cpu[name].append(tree_cpu_s() - c)
            except Exception:
                traceback.print_exc()
                failed += 1
    round_cpu.append(tree_cpu_s())
    ctx.end()
    ctx.units = rounds

    problems = _oracle_check(DATA, results)
    for name in order:
        if name not in results:
            problems.setdefault(name, "no result")
    ok = not problems
    medians = {n: statistics.median(v) for n, v in times.items() if v}
    total = sum(medians.values())
    cpu_medians = {n: statistics.median(v) for n, v in cpu.items() if v}
    cpu_total = sum(cpu_medians.values())
    return {
        "correct": ok,
        "attempted": (rounds + 2) * len(order),
        "failed": failed + len(problems),
        "metrics": {
            "throughput_per_cpu_s": len(cpu_medians) / cpu_total if cpu_total else 0.0,
            "view_cpu_s": cpu_total,
        },
        "detail": {
            "queries_total_s": total,
            # over the queries' medians, so every round weighs each query once
            "latency_p50_s": pct(list(medians.values()), 50),
            "latency_p90_s": pct(list(medians.values()), 90),
            "rounds": rounds,
            "round_cpu_s": [round(b - a, 2) for a, b in zip(round_cpu, round_cpu[1:])],
            "order": order,
            "query_median_s": {n: round(v, 4) for n, v in medians.items()},
            "query_median_cpu_s": {n: round(v, 3) for n, v in cpu_medians.items()},
            "query_cold_s": {n: round(v, 4) for n, v in cold.items()},
            "check_problems": problems,
        },
    }


def queries_layer_metrics(spans: list[dict]) -> dict[str, float]:
    out = {}
    for layer in LAYERS.values():
        for part in ("plan", "exec"):
            out[f"{layer}.{part}_s"] = sum(
                s["end"] - s["start"] for s in spans
                if s["layer"] == layer and s["name"].endswith(f".{part}")
            )
    return out
