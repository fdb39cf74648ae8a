#!/usr/bin/env python
"""Same-box A/B of specific queries between two trees (drift forensics).

The r12 verdict flagged x130_pareto_front (1.86x), x86_edit_distance_pairs
(1.63x) and x23_json_extract (1.51x) as slower round-over-round with NO
code change to their ops — suspected session drift, but r11's "pin a
same-box control" item was never executed, so there was no evidence.  This
script is that control: it times the named queries with the bench.py
protocol (noop sink, warm-up, N reps, median) against ONE tree, so two
invocations minutes apart — one on a worktree of the prior round's commit,
one on HEAD — give a same-box, same-session-conditions A/B.

Usage:
    python scripts/trio_ab.py TREE_DIR OUT_JSON [query ...]

Defaults to the r12 drift trio.  Runs queries in sorted order, reps from
$SPARK_GRAFT_BENCH_REPS (default 5 here — drift forensics wants more reps
than the suite bench's 3).
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import sys
import time

TRIO = ["x130_pareto_front", "x86_edit_distance_pairs", "x23_json_extract"]


def main() -> None:
    tree = os.path.abspath(sys.argv[1])
    out_path = os.path.abspath(sys.argv[2])
    names = sys.argv[3:] or TRIO

    # Import the TREE's engine, not the caller's: the tree dir goes first
    # on sys.path and we chdir there so any relative artifacts resolve.
    os.chdir(tree)
    sys.path.insert(0, tree)
    entrymod = importlib.import_module("__spark_entry__")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dftly-spark-trio-ab")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    qs["q22_flagship"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    medians, all_reps = {}, {}
    for name in sorted(names):
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 4))
        medians[name] = round(statistics.median(runs), 4)
        all_reps[name] = runs

    out = {
        "tree": tree,
        "queries": medians,
        "queries_reps": all_reps,
        "reps": reps,
        "sf_dir": sf_dir,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
