#!/usr/bin/env python
"""Round-14 optimization probe: time queries in isolation + dump plans.

Usage:
    python scripts/opt_probe.py [--plans DIR] [--reps N] query [query ...]

For each query: runs ``reps`` noop-sink reps (guide §1.4) with a job
description label (guide §1.5), prints per-rep seconds, and (with
``--plans``) writes ``<dir>/<query>.txt`` with ``explain('formatted')``.
Session setup matches bench.py (same master/shuffle conf) so numbers are
comparable with the bench snapshots.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--plans", default=None, help="dir for explain('formatted') dumps")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--no-time", action="store_true", help="plans only")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dftly-spark-opt-probe")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    # JVM/codegen warm-up, matching bench.py
    qs["q22_flagship"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    for name in args.queries:
        if name not in qs:
            print(f"{name}: NOT REGISTERED", flush=True)
            continue
        df = qs[name](spark, sf_dir)
        if args.plans:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        if args.no_time:
            print(f"{name}: plan dumped", flush=True)
            continue
        runs = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"opt-probe: {name}")
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 4))
            spark.sparkContext.setJobDescription(None)
        print(f"{name}: {runs} median={sorted(runs)[len(runs)//2]}", flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
