#!/usr/bin/env python
"""Round-15 per-query conf-arm A/B: interleaved, sentinel-guarded.

For each named query, runs ``--reps`` interleaved (arm, default) leg pairs
inside ONE warm session — leg order alternates per rep so monotonic box
drift penalizes both legs equally — and reports per-leg medians.  A
sentinel query (untouched by the arm) rides every rep on the DEFAULT conf;
if the sentinel moves, the run is drift-poisoned and must be discarded
(the round-14 protocol).

The conf arm is toggled at RUNTIME via spark.conf.set before each leg's
action; SPARK_DFTLY_QUERY_CONFS=off is forced so the contract's own
per-query conf wrapper cannot fight the probe.

Usage:
    python scripts/conf_ab.py --arm k=v [--arm k=v ...] [--reps N]
        [--sentinel QUERY] [--out FILE] query [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ["SPARK_DFTLY_QUERY_CONFS"] = "off"

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod

DEFAULTS = {
    "spark.sql.join.preferSortMergeJoin": "true",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "0",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--arm", action="append", default=[], help="conf k=v for the arm leg")
    ap.add_argument("--reps", type=int, default=4, help="interleaved leg PAIRS per query")
    ap.add_argument("--sentinel", default="x150_ann_recall")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    arm = dict(kv.split("=", 1) for kv in args.arm)
    unknown = set(arm) - set(DEFAULTS)
    if unknown:
        # default-reset list must cover every armed conf or legs leak
        raise SystemExit(f"add defaults for {unknown} to DEFAULTS first")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dftly-spark-conf-ab")
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

    def set_confs(conf: dict[str, str]) -> None:
        for k, v in DEFAULTS.items():
            spark.conf.set(k, conf.get(k, v))

    def run_once(name: str) -> float:
        spark.sparkContext.setJobDescription(f"conf-ab: {name}")
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobDescription(None)
        return round(time.perf_counter() - t0, 4)

    results: dict[str, dict] = {}
    sentinel_runs: list[float] = []
    for name in args.queries:
        legs = {"arm": [], "default": []}
        for rep in range(args.reps):
            order = ("arm", "default") if rep % 2 == 0 else ("default", "arm")
            for leg in order:
                set_confs(arm if leg == "arm" else {})
                legs[leg].append(run_once(name))
            set_confs({})
            sentinel_runs.append(run_once(args.sentinel))
        med_a = statistics.median(legs["arm"])
        med_d = statistics.median(legs["default"])
        results[name] = {
            "arm": med_a,
            "default": med_d,
            "delta": round(med_a - med_d, 4),
            "reps_arm": legs["arm"],
            "reps_default": legs["default"],
        }
        print(
            f"{name}: arm={med_a:.3f} default={med_d:.3f} "
            f"delta={med_a - med_d:+.3f}  arm_reps={legs['arm']} def_reps={legs['default']}",
            flush=True,
        )

    out = {
        "arm": arm,
        "sf_dir": sf_dir,
        "reps": args.reps,
        "results": results,
        "sentinel": args.sentinel,
        "sentinel_runs": sentinel_runs,
        "sentinel_median": statistics.median(sentinel_runs) if sentinel_runs else None,
    }
    print(json.dumps({k: v["delta"] for k, v in results.items()}))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
