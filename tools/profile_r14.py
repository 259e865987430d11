"""Round-14 optimization profiler (guide §1): isolate each declared query,
time it min-of-N with BOTH the bench's count() action and the noop sink
(guide §1.4), count Spark jobs per execution, and dump
``.explain("formatted")`` to plans/r14/<name>_<tag>.txt.

Usage:
  PYTHONPATH=. python tools/profile_r14.py [--tag before] \
      [--runs 3] [--no-plans] [query ...]

Defaults to the bench HEADLINE + EXTRAS set. Prints one JSON line per
query: {"name", "count_sec", "noop_sec", "jobs", "exchanges",
"python_evals"} and a final summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument(
        "--raw-plans", action="store_true",
        help="monkeypatch DataFrame.localCheckpoint to identity so the "
        "dumped plan shows the pre-checkpoint computation (queries that "
        "end in an eager localCheckpoint otherwise dump a bare "
        "'Scan ExistingRDD'); timings are skipped in this mode")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("r14-profile")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    names = args.queries
    if not names:
        import bench
        names = list(bench.HEADLINE) + list(bench.EXTRAS)

    plans_dir = "/root/repo/plans/r14"
    os.makedirs(plans_dir, exist_ok=True)

    # JIT/codegen warm-up (mirrors bench.py)
    qs["filter_temporal"](spark, args.sf_dir).count()
    spark.catalog.clearCache()

    if args.raw_plans:
        try:  # Spark 4: the concrete class lives in pyspark.sql.classic
            from pyspark.sql.classic.dataframe import DataFrame as _DF
        except ImportError:
            from pyspark.sql import DataFrame as _DF
        _DF.localCheckpoint = lambda self, eager=True: self
        for name in names:
            df = qs[name](spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(f"{plans_dir}/{name}_{args.tag}.txt", "w") as f:
                f.write(plan)
            print(f"wrote {name}_{args.tag}.txt", flush=True)
            spark.catalog.clearCache()
        spark.stop()
        return

    results = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"r14-profile: {name}")
        # plan capture (build once, untimed)
        df = fn(spark, args.sf_dir)
        if not args.no_plans:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(f"{plans_dir}/{name}_{args.tag}.txt", "w") as f:
                f.write(plan)
        else:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        exchanges = len(re.findall(r"\bExchange\b", plan))
        py_evals = len(re.findall(
            r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|"
            r"FlatMapGroupsInPandas", plan))
        spark.catalog.clearCache()

        # count() timing (the bench's action), min-of-N
        best_count = float("inf")
        for i in range(args.runs):
            t0 = time.time()
            fn(spark, args.sf_dir).count()
            best_count = min(best_count, time.time() - t0)
            spark.catalog.clearCache()
        # noop sink timing (guide §1.4), min-of-N
        best_noop = float("inf")
        for i in range(args.runs):
            d = fn(spark, args.sf_dir)
            t0 = time.time()
            d.write.format("noop").mode("overwrite").save()
            best_noop = min(best_noop, time.time() - t0)
            spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)
        rec = {
            "name": name,
            "count_sec": round(best_count, 3),
            "noop_sec": round(best_noop, 3),
            "exchanges": exchanges,
            "python_evals": py_evals,
        }
        results[name] = rec
        print(json.dumps(rec), flush=True)

    print(json.dumps({
        "total_count_sec": round(
            sum(r["count_sec"] for r in results.values()), 3),
        "total_noop_sec": round(
            sum(r["noop_sec"] for r in results.values()), 3),
        "n": len(results),
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
