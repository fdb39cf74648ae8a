"""The measured process: one Spark session, one workload, one seed.

Started by ``run.py``.  It starts the session, warms up (``setup_s``), runs
timed passes for the requested seconds and reads the peak memory figures.
Then, outside every timed region, it optionally makes one traced pass and
writes each query's output for the checker.  Its result is
``<work>/result.json``.

An op is one contract query: ``queries()[name](spark, data_dir)`` (the
builder, including any Spark jobs it fires), then
``df._jdf.queryExecution().executedPlan()`` (Catalyst), then the noop-sink
action.  Each pass runs every op once, in an order drawn from the seed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import statistics
import sys
import time
from typing import NamedTuple

from spans import StageTotals, Tracer, plan_phases_ms, stage_totals

#: operator_pipelines members: iterative builders with 10-25 driver rounds
#: (x111, x56, x160), pairwise scoring on the arrow scorer (x46) and the
#: text cluster sharing the corpus memo (x02)
OPERATOR_QUERIES = [
    "x111_kcore",
    "x56_ivf_kmeans_topk",
    "x160_cluster_balanced",
    "x46_semantic_dedup",
    "x02_ngram_jaccard_pairs",
]


class Spec(NamedTuple):
    queries: list[str] | None  # None: every q-series query
    sf: float  # scale factor of the timed input
    warm_sf: float  # scale factor of the warm-up input
    warmup_passes: int
    min_passes: int  # timed passes: at least this many, and more while they fit --seconds
    tail_pct: int | None  # op_tail_ms percentile; None: slowest query's median


#: 2 reference passes give 60 samples, 12 beyond p80; an operator pass gives
#: 5, too few for any tail percentile
WORKLOADS = {
    "reference_queries": Spec(None, 0.002, 0.002, 1, 2, 80),
    "operator_pipelines": Spec(OPERATOR_QUERIES, 0.005, 0.001, 1, 1, None),
}


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name (``<layer>.<metric>[.<query>]``)."""
    if name.endswith(tuple(OPERATOR_QUERIES)):
        name = name.rsplit(".", 1)[0]
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith(("core_util", "per_out_row")) else "count"


def start_session(work: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("dftly-spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # keep the JVM's temp and perf-data files out of /tmp
        .config("spark.driver.extraJavaOptions", f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def expr_nodes(jdf) -> tuple[int, int]:
    """(Catalyst expression nodes, output columns) of the analyzed plan's
    top operator: one tree-string line per expression node."""
    exprs = jdf.queryExecution().analyzed().expressions()
    nodes = 0
    for i in range(exprs.size()):
        nodes += len(exprs.apply(i).treeString().splitlines())
    return nodes, len(jdf.columns())


class Workload:
    def __init__(self, spark, name: str, data: str, seed: int):
        import __spark_entry__

        self.spark, self.data = spark, data
        self.queries = __spark_entry__.queries()
        self.spec = WORKLOADS[name]
        self.ops = self.spec.queries or [n for n in self.queries if n.startswith("q")]
        self.rng = random.Random(seed)
        self.last_df = {}
        self.tracer: Tracer | None = None

    def run_pass(self) -> tuple[float, list[tuple[str, float]]]:
        """(pass seconds, [(query, ms)])."""
        order = list(self.ops)
        self.rng.shuffle(order)
        lat = []
        t0 = time.perf_counter()
        for name in order:
            t = time.perf_counter()
            if self.tracer is None:
                self.run_op(name)
            else:
                self.traced_op(name, self.tracer)
            lat.append((name, (time.perf_counter() - t) * 1e3))
        return time.perf_counter() - t0, lat

    def run_op(self, name: str) -> None:
        df = self.queries[name](self.spark, self.data)
        df._jdf.queryExecution().executedPlan()
        df.write.format("noop").mode("overwrite").save()
        self.last_df[name] = df

    def traced_op(self, name: str, tr: Tracer) -> None:
        sc = self.spark.sparkContext
        group = f"perfbench:{name}"
        sc.setJobGroup(group, name)
        tr.query = name
        with tr.span("contract.build"):
            df = self.queries[name](self.spark, self.data)
        pre = list(sc.statusTracker().getJobIdsForGroup(group))
        with tr.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("spark.exec"):
            df.write.format("noop").mode("overwrite").save()
        tr.query = None
        self.phases[name] = plan_phases_ms(df._jdf)
        everything = list(sc.statusTracker().getJobIdsForGroup(group))
        self.pre_stats[name] = stage_totals(self.spark, pre)
        self.action_stats[name] = stage_totals(
            self.spark, [j for j in everything if j not in pre]
        )
        self.last_df[name] = df

    def expr_nodes_per_col(self) -> float:
        nodes = cols = 0
        for name in self.ops:
            n, c = expr_nodes(self.last_df[name]._jdf)
            nodes, cols = nodes + n, cols + c
        return nodes / cols

    def write_outputs(self, out: str) -> list[dict]:
        """Write the frames the last pass built (the builders do not run
        again), one parquet directory per query, four writes at a time."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.dataset as ds

        def write(name: str) -> dict:
            path = os.path.join(out, name)
            try:
                self.last_df[name].write.mode("overwrite").parquet(path)
            except Exception as ex:  # noqa: BLE001 — reported as a failed op
                return {"name": name, "error": repr(ex)[:300]}
            return {"name": name, "path": path, "rows": ds.dataset(path).count_rows()}

        with ThreadPoolExecutor(4) as pool:
            return list(pool.map(write, self.ops))

    def traced_pass(self) -> tuple[float, dict[str, float]]:
        """One pass with every layer wrapped: (pass_s, per-layer metrics)."""
        tr = self.tracer = Tracer()
        self.phases, self.pre_stats, self.action_stats = {}, {}, {}
        sc = self.spark.sparkContext
        sc.setJobGroup("perfbench:pass", "traced pass")
        tr.install()
        try:
            pass_s, _ = self.run_pass()
        finally:
            tr.uninstall()
            self.tracer = None
        # jobs fired outside every query's group (none are expected)
        act = stage_totals(self.spark, list(sc.statusTracker().getJobIdsForGroup("perfbench:pass")))
        pre = StageTotals()
        for s in self.pre_stats.values():
            pre.add(s)
        for s in self.action_stats.values():
            act.add(s)
        action_s = tr.self_s("spark.exec")
        phase = {k: sum(p[k] for p in self.phases.values()) for k in ("analysis", "optimization", "planning")}
        m: dict[str, float] = {
            "trace.pass_s": pass_s,
            "strform.parse_s": tr.self_s("strform"),
            "strform.exprs": tr.count("strform"),
            "parser.match_s": tr.self_s("parser"),
            "parser.ast_nodes_per_expr": tr.ast_nodes / max(1, tr.count("parser")),
            "nodes.lower_s": tr.self_s("nodes"),
            "nodes.py4j_calls_per_expr": tr.self_calls("nodes") / max(1, tr.count("nodes")),
            "compile.self_s": tr.self_s("compile"),
            "contract.build_s": tr.self_s("contract.build"),
            "contract.py4j_calls": tr.self_calls("contract.build"),
            "contract.pre_action_jobs": pre.jobs,
            "contract.pre_action_task_s": pre.run_s,
            "spark.plan.analysis_ms": phase["analysis"],
            "spark.plan.optimization_ms": phase["optimization"],
            "spark.plan.planning_ms": phase["planning"],
            "spark.plan.self_s": tr.self_s("spark.plan"),
            "spark.exec.action_s": action_s,
            "spark.exec.jobs": act.jobs,
            "spark.exec.tasks": act.tasks,
            "spark.exec.task_run_s": act.run_s,
            "spark.exec.task_cpu_s": act.cpu_s,
            "spark.exec.core_util": act.run_s / (action_s * sc.defaultParallelism),
            "spark.exec.shuffle_write_mb": act.shuffle_write_mb,
            "spark.exec.shuffle_records": act.shuffle_records,
            "spark.exec.spill_mb": act.spill_mb,
            "spark.exec.failed_tasks": act.failed_tasks + pre.failed_tasks,
        }
        builds = tr.by_query("contract.build")
        actions = tr.by_query("spark.exec")
        for q in OPERATOR_QUERIES:
            m[f"contract.build_s.{q}"] = builds.get(q, 0.0)
            m[f"contract.pre_action_jobs.{q}"] = self.pre_stats[q].jobs if q in self.pre_stats else 0
            m[f"spark.exec.action_s.{q}"] = actions.get(q, 0.0)
        return pass_s, m


def main() -> int:
    ap = argparse.ArgumentParser()
    for flag in ("--workload", "--data", "--warm-data", "--work", "--out"):
        ap.add_argument(flag, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    a = ap.parse_args()

    t_setup = time.perf_counter()
    spark = start_session(a.work, a.cores)
    wl = Workload(spark, a.workload, a.warm_data, a.seed)
    for _ in range(wl.spec.warmup_passes):
        wl.run_pass()
    wl.data = a.data
    setup_s = time.perf_counter() - t_setup

    passes: list[float] = []
    lat: list[tuple[str, float]] = []
    t0 = time.perf_counter()
    # a further pass starts only if one more of the last pass's length still
    # ends inside --seconds, so the pass count does not flip with noise
    while len(passes) < wl.spec.min_passes or (
        time.perf_counter() - t0 + passes[-1] <= a.seconds
    ):
        p, op_ms = wl.run_pass()
        passes.append(p)
        lat.extend(op_ms)
    result = {
        "setup_s": setup_s,
        "passes": passes,
        "latencies_ms": lat,
        "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        "jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
        "expr_nodes_per_col": wl.expr_nodes_per_col(),
        "ops_per_pass": len(wl.ops),
    }
    if a.trace:
        traced_s, layers = wl.traced_pass()
        layers["trace.overhead_s"] = traced_s - statistics.median(passes)
        layers["jvm_peak_rss_mb"] = result.pop("jvm_peak_rss_mb")
        result["layers"] = layers
    result["outputs"] = wl.write_outputs(a.out)
    if a.trace:
        rows = sum(o.get("rows", 0) for o in result["outputs"])
        shuffled = result["layers"].pop("spark.exec.shuffle_records")
        result["layers"]["spark.exec.shuffle_records_per_out_row"] = shuffled / max(1, rows)
    with open(os.path.join(a.work, "result.json"), "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
