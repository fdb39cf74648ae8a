#!/usr/bin/env python
"""Optimization probe: time queries in isolation + dump their executed plans.

Usage:
    PYTHONHASHSEED=0 python scripts/opt_probe.py [--plans DIR] [--reps N] query [...]

For each query: runs ``reps`` noop-sink reps (guide §1.4) with a job
description label (guide §1.5) and prints per-rep seconds.  Session setup
matches bench.py (same master/shuffle conf) so numbers are comparable with
the bench snapshots.

``--plans DIR`` first builds and runs each query once, untimed, and writes
``<dir>/<query>.txt``: the physical plan of every SQL execution that run
fired, in order — the builder's pre-action jobs (checkpoints, centroid
fits, probes) and then the final noop write, each as its final adaptive
plan.  Expression ids (``#123``) and exchange ``plan_id``s are stripped, so
two trees' dumps compare with one ``diff -r``.  Plans follow Python's
string-hash seed (set iteration order reaches some column orders), so
``--plans`` refuses to run unless ``PYTHONHASHSEED`` is set, and each dump
records the seed.  Run one query per process for cold-session plans.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod

_PLAN_IDS = re.compile(r"#\d+|(?<=plan_id=)\d+")


def _sql_executions(spark):
    """Every SQL execution the session has recorded, oldest first."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def _dump_plans(spark, skip: int, path: str, seed: str) -> None:
    with open(path, "w") as fh:
        fh.write(f"# PYTHONHASHSEED={seed}\n")
        for n, ex in enumerate(_sql_executions(spark)[skip:], 1):
            fh.write(f"\n# execution {n}\n")
            fh.write(_PLAN_IDS.sub("", ex.physicalPlanDescription()))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--plans", default=None, help="dir for executed-plan dumps")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--no-time", action="store_true", help="plans only")
    args = ap.parse_args()

    seed = os.environ.get("PYTHONHASHSEED")
    if args.plans and seed in (None, "", "random"):
        ap.error("--plans needs a fixed PYTHONHASHSEED (plans follow the string-hash seed)")

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
        if args.plans:
            skip = len(_sql_executions(spark))
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            _dump_plans(spark, skip, os.path.join(args.plans, f"{name}.txt"), seed)
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
