#!/usr/bin/env python
"""Profile contract queries: one JSON line per query with its layer split.

Usage, from the root of the tree to profile:
    python scripts/profile_queries.py [--plans DIR] [--reps N] [query ...] > out.jsonl

``__spark_entry__`` and ``dftly_spark`` are imported from the working
directory, so an A/B between two trees is one run from each tree's root.
The session has ``bench.py``'s conf and reads the same environment, with
the same defaults: ``$SPARK_GRAFT_SF_DIR``, ``$SPARK_GRAFT_CPUS``,
``$SPARK_GRAFT_DRIVER_MEM``, and ``$SPARK_GRAFT_BENCH_REPS`` as the default
``--reps`` (3).  After a ``q22_flagship`` warm-up, each query (default: all)
runs once traced with ``perfbench/spans.py`` and then ``--reps`` times
untraced; ``--reps 0`` skips the timing.  A record holds:

* ``reps_s``, ``min_s``, ``median_s``: untraced builder + noop action;
* the traced run's self seconds of the four compiler layers
  (``strform_s``, ``parser_s``, ``nodes_s``, ``compile_s``) and of the
  builder around them (``build_s``, with its ``build_py4j_calls``);
* the Spark jobs the builder fired before the action
  (``pre_action_jobs``, ``pre_action_task_s``), the Catalyst phases
  (``analysis_ms``, ``optimization_ms``, ``planning_ms``), and the action
  (``action_s``, ``action_jobs``, ``action_tasks``, ``action_run_s``,
  ``action_cpu_s``, ``shuffle_write_mb``, ``spill_mb``; ``failed_tasks``
  counts both sides);
* plan-shape counters (:func:`plan_shape`): exchanges, joins and windows
  over the final plans of every SQL execution the query fired (its
  pre-action jobs and the noop write), the codegen stages in the noop
  write's final plan.

A query that raises gets ``{"query", "error"}`` instead.

``--plans DIR`` writes ``<DIR>/<query>.txt`` from the traced run: the
physical plan of every SQL execution it fired, in order (the builder's
pre-action jobs, then the noop write), each as its final adaptive plan,
with expression ids (``#123``), exchange ``plan_id``s, RDD ids
(``MapPartitionsRDD[253]``, which count every RDD the session made
before), codegen stage ids (``[codegen id : 3]``) and AQE query-stage ids
stripped, so two trees' dumps compare with one ``diff -r``.  Plans follow Python's
string-hash seed (set iteration order reaches some column orders), so
``--plans`` refuses to run unless ``PYTHONHASHSEED`` is set, and each dump
records the seed.  Run one query per process for cold-session plans.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time

if __name__ == "__main__":
    # the working tree's package first, then this tree's perfbench/
    sys.path[:0] = [os.getcwd(), os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

from perfbench.spans import Tracer, plan_phases_ms, stage_totals  # noqa: E402

#: ids that number things the session made before, not the plan: expression
#: ids, exchange ``plan_id``s, RDD ids and codegen stage ids
_PLAN_IDS = re.compile(r"#\d+|(?<=plan_id=)\d+|(?<=RDD\[)\d+(?=\])|(?<=\[codegen id : )\d+")
#: an AQE query stage's id: the ``Arguments:`` line of its detail block
_STAGE_ID = re.compile(r"(QueryStage\n(?:[^\n]+\n)*?Arguments: )\d+")


def strip_plan_ids(description: str) -> str:
    """``description`` without the ids of :data:`_PLAN_IDS` and :data:`_STAGE_ID`."""
    return _STAGE_ID.sub(r"\1", _PLAN_IDS.sub("", description))


#: scan nodes cut metadata values (ReadSchema included) at 100 chars by
#: default, which hides exactly the unpruned scans ``scan_cols_max`` is
#: for; the cut is fixed when the node is planned
_METADATA_LEN = "spark.sql.maxMetadataStringLength"


def _final_tree(description: str) -> str:
    """The operator tree at the top of one execution's formatted plan
    description; under AQE only its ``Final Plan`` part.  Subquery trees,
    below the operator details, are not read."""
    tree = description.split("\n\n", 1)[0]
    return tree.split("== Initial Plan ==", 1)[0]


def plan_shape(plan: str, finals: list[str], final: str) -> dict[str, int]:
    """Plan-shape counters of one query.  Exchanges, joins and windows are
    counted over ``finals``, the final plans of every SQL execution the
    query fired: the executed plan before the action is, under AQE, the
    initial plan of the last execution only, which leaves out what earlier
    (checkpointed) executions ran and the broadcasts AQE picks at run time.
    ``n_codegen`` reads ``final``, the action's described final plan.
    ``n_python`` and ``scan_cols_max`` read ``plan``, the executed plan
    with uncut metadata."""
    trees = "\n".join(map(_final_tree, finals))
    # ReadSchema: struct<a:int,b:double,...> — count the widest scan
    widths = [s.count(":") for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan)]
    return {
        # \bExchange\b cannot match inside "BroadcastExchange" or
        # "ReusedExchange" (no word boundary before the 'E'), so the count
        # is of shuffles that ran
        "n_exchange": len(re.findall(r"\bExchange\b", trees)),
        "n_bcast_exchange": trees.count("BroadcastExchange"),
        "n_bnl": trees.count("BroadcastNestedLoopJoin"),
        "n_cartesian": trees.count("CartesianProduct"),
        "n_window": len(re.findall(r"\bWindow\b", trees)),
        "n_codegen": len(set(re.findall(r"\[codegen id : (\d+)\]", final))),
        "n_python": plan.count("BatchEvalPython") + plan.count("ArrowEvalPython"),
        "scan_cols_max": max(widths, default=0),
    }


def _sql_executions(spark, after: int = -1) -> list:
    """The SQL executions the session still holds with an id above
    ``after``, oldest first (the store keeps only the latest ones, so ids,
    not positions, mark where a run starts)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [e for e in map(execs.apply, range(execs.size())) if e.executionId() > after]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _executed_plan(spark, df) -> str:
    """``df``'s executed plan as a string, planned with metadata values
    uncut; the action plans again, under the session's own setting."""
    metadata_len = spark.conf.get(_METADATA_LEN)
    spark.conf.set(_METADATA_LEN, "10000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(_METADATA_LEN, metadata_len)


def _last_execution(spark) -> int:
    return max((e.executionId() for e in _sql_executions(spark)), default=-1)


def _traced(spark, name: str, build, sf_dir: str) -> tuple[dict, str, list[str], str]:
    """One traced build + plan + noop action: (layer split, executed plan,
    the described final plan of every SQL execution it fired, in order,
    and of the noop write)."""
    sc = spark.sparkContext
    group = f"profile:{name}"
    start = _last_execution(spark)
    tr = Tracer()
    try:
        tr.install()
        sc.setJobGroup(group, name)
        with tr.span("contract.build"):
            df = build(spark, sf_dir)
        pre = list(sc.statusTracker().getJobIdsForGroup(group))
        plan = _executed_plan(spark, df)
        last = _last_execution(spark)
        with tr.span("spark.exec"):
            _noop(df)
    finally:
        tr.uninstall()
        sc._jsc.clearJobGroup()
    execs = _sql_executions(spark, start)
    finals = [e.physicalPlanDescription() for e in execs]
    final = next(d for e, d in zip(execs, finals) if e.executionId() > last)
    everything = sc.statusTracker().getJobIdsForGroup(group)
    pre_t = stage_totals(spark, pre)
    act = stage_totals(spark, [j for j in everything if j not in pre])
    phases = plan_phases_ms(df._jdf)
    split = {
        "strform_s": tr.self_s("strform"),
        "parser_s": tr.self_s("parser"),
        "nodes_s": tr.self_s("nodes"),
        "compile_s": tr.self_s("compile"),
        "build_s": tr.self_s("contract.build"),
        "build_py4j_calls": tr.self_calls("contract.build"),
        "pre_action_jobs": pre_t.jobs,
        "pre_action_task_s": pre_t.run_s,
        **{f"{k}_ms": v for k, v in phases.items()},
        "action_s": tr.self_s("spark.exec"),
        "action_jobs": act.jobs,
        "action_tasks": act.tasks,
        "action_run_s": act.run_s,
        "action_cpu_s": act.cpu_s,
        "shuffle_write_mb": act.shuffle_write_mb,
        "spill_mb": act.spill_mb,
        "failed_tasks": act.failed_tasks + pre_t.failed_tasks,
    }
    return split, plan, finals, final


def profile(spark, sf_dir: str, queries: dict, names, reps: int, plans=None, seed=None):
    """Yield one record per name in ``names`` (see the module docstring)."""
    for name in names:
        try:
            split, plan, finals, final = _traced(spark, name, queries[name], sf_dir)
            if plans:
                with open(os.path.join(plans, f"{name}.txt"), "w") as fh:
                    fh.write(f"# PYTHONHASHSEED={seed}\n")
                    for n, description in enumerate(finals, 1):
                        fh.write(f"\n# execution {n}\n")
                        fh.write(strip_plan_ids(description))
            runs = []
            for _ in range(reps):
                t0 = time.perf_counter()
                _noop(queries[name](spark, sf_dir))
                runs.append(round(time.perf_counter() - t0, 4))
        except Exception as ex:  # noqa: BLE001 — recorded, the sweep goes on
            yield {"query": name, "error": repr(ex)[:300]}
            continue
        rec = {
            "query": name,
            "reps_s": runs,
            "min_s": min(runs, default=None),
            "median_s": statistics.median(runs) if runs else None,
            **split,
            **plan_shape(plan, finals, final),
        }
        yield {k: round(v, 4) if isinstance(v, float) else v for k, v in rec.items()}


def main() -> None:
    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="default: every contract query")
    ap.add_argument("--plans", default=None, help="dir for executed-plan dumps")
    ap.add_argument("--reps", type=int, default=int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")),
                    help="untraced timing reps per query (0: none)")
    args = ap.parse_args()

    qs = entrymod.queries()
    names = args.queries or sorted(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        ap.error(f"not registered: {' '.join(unknown)}")
    seed = os.environ.get("PYTHONHASHSEED")
    if args.plans:
        if seed in (None, "", "random"):
            ap.error("--plans needs a fixed PYTHONHASHSEED (plans follow the string-hash seed)")
        os.makedirs(args.plans, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dftly-spark-profile")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # JVM/codegen warm-up, as bench.py
    _noop(qs["q22_flagship"](spark, sf_dir))
    for rec in profile(spark, sf_dir, qs, names, args.reps, args.plans, seed):
        print(json.dumps(rec), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
