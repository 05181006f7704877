"""Extra benchmarks for optimization work (bench.py is FROZEN — guide §1.4).

Per query: capture .explain("formatted"), then time
  * build_s: constructing the DataFrame (driver-side plan build, incl. any
    eager actions hidden in the query function),
  * count_s: df.count() — the frozen bench.py methodology,
and repeat N times reporting every sample (this host throttles unpredictably;
best-of-N is the only honest read).

Usage:
  python bench_extra.py [query ...]              # default: the 3 hot queries
  AQ_EXTRA_REPEATS=3 AQ_EXTRA_SF_DIR=/root/testdata/sf1.0 python bench_extra.py
  AQ_EXTRA_PLANS_DIR=plans/r06 python bench_extra.py --plans-only q1 q2
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    import __spark_entry__ as entry

    sf_dir = os.environ.get("AQ_EXTRA_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    plans_dir = os.environ.get("AQ_EXTRA_PLANS_DIR")
    plan_suffix = os.environ.get("AQ_EXTRA_PLAN_SUFFIX", "")

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    plans_only = "--plans-only" in sys.argv
    names = args or ["dedup_simhash_pairs", "dedup_minhash_lsh", "ann_neardup_lsh"]

    # validate everything before paying for a Spark session
    qs = entry.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(_usage_error(f"unknown query name(s): {', '.join(unknown)}"))
    raw_repeats = os.environ.get("AQ_EXTRA_REPEATS", "2")
    try:
        repeats = int(raw_repeats)
    except ValueError:
        repeats = 0
    if repeats < 1 and not plans_only:
        sys.exit(_usage_error(f"AQ_EXTRA_REPEATS must be a positive integer, got {raw_repeats!r}"))

    import bench

    spark = bench.build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(xxhash64(id) % 100000)").collect()

    out = {"sf_dir": sf_dir, "cpus": cpus, "queries": {}}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(name)
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(os.path.join(plans_dir, f"{name}{plan_suffix}.txt"), "w") as fh:
                fh.write(plan)
        if plans_only:
            continue
        samples = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            n = df.count()
            t2 = time.perf_counter()
            samples.append({"build_s": round(t1 - t0, 3), "count_s": round(t2 - t1, 3)})
        out["queries"][name] = {
            "rows": n,
            "samples": samples,
            "best_total_s": round(min(s["build_s"] + s["count_s"] for s in samples), 3),
        }
        spark.sparkContext.setJobDescription(None)
        print(json.dumps({name: out["queries"][name]}), flush=True)
    if not plans_only:
        print(json.dumps(out))


def _usage_error(msg: str) -> int:
    print(f"bench_extra.py: {msg}", file=sys.stderr)
    return 2


if __name__ == "__main__":
    main()
