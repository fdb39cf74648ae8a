#!/usr/bin/env python3
"""dftly-spark benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The run

1. writes the seed's synthetic tables under ``.perfbench_work/`` (this is
   the benchmark making its inputs, not part of any metric);
2. starts ``worker.py`` in its own process group: session start, input
   registration and warm-up (``setup_s``), timed passes for ``--seconds``,
   peak memory, then with ``--trace 1`` one traced pass, then each op's
   output written for checking;
3. ends that process group, checks every output here, in this process,
   against an independent reference (``check.py``);
4. prints every metric as ``name value unit``, then as its last line
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (see BENCHMARK.json for names and units).  Nothing here sets a program
option: the package runs with its defaults.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from worker import WORKLOADS, layer_unit  # noqa: E402

WORKER_DEADLINE_S = 165


def _stop_group(pgid: int) -> None:
    """SIGKILL what is left of the worker's process group and wait until
    every member (the JVM, Python workers) has gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(200):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _tail_ms(lat: list[tuple[str, float]], pct: int | None) -> float:
    ms = [v for _, v in lat]
    if pct is None:
        # too few ops per run for a tail percentile: the slowest op's median
        per_op: dict[str, list[float]] = {}
        for name, v in lat:
            per_op.setdefault(name, []).append(v)
        return max(statistics.median(v) for v in per_op.values())
    if len(ms) * (100 - pct) / 100 < 10:
        raise RuntimeError(f"{len(ms)} samples cannot support p{pct}")
    return statistics.quantiles(ms, n=100, method="inclusive")[pct - 1]


def end_to_end(res: dict, pct: int | None) -> dict[str, tuple[float, str]]:
    lat = res["latencies_ms"]
    return {
        "pass_s": (statistics.median(res["passes"]), "s"),
        "setup_s": (res["setup_s"], "s"),
        "op_p50_ms": (statistics.median(v for _, v in lat), "ms"),
        "op_tail_ms": (_tail_ms(lat, pct), "ms"),
        "expr_nodes_per_col": (res["expr_nodes_per_col"], "count"),
        "driver_peak_rss_mb": (res["driver_peak_rss_mb"], "MB"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile("__spark_entry__.py") and os.path.isdir("dftly_spark")):
        print("perfbench: run from the repository root (dftly_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    import datagen
    from check import check_all

    spec = WORKLOADS[a.workload]
    work = os.path.join(root, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = datagen.write(a.seed, spec.sf, os.path.join(work, "data"))
        warm = data
        if spec.warm_sf != spec.sf:
            warm = datagen.write(a.seed, spec.warm_sf, os.path.join(work, "warm"))
        out = os.path.join(work, "out")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        env = dict(os.environ, TMPDIR=tmp)
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (HERE, root, os.environ.get("PYTHONPATH")) if p
        )
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(min(4, len(os.sched_getaffinity(0)))),
            "--data", data, "--warm-data", warm, "--work", work, "--out", out,
        ]  # fmt: skip
        log_path = os.path.join(work, "worker.log")
        t_worker = time.perf_counter()
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                cmd, cwd=root, env=env, stdout=log, stderr=log, start_new_session=True
            )
            try:
                code = proc.wait(timeout=WORKER_DEADLINE_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _stop_group(proc.pid)
                proc.wait()
        t_worker = time.perf_counter() - t_worker
        if code != 0:
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            print(f"perfbench: worker {'timed out' if code is None else f'exited {code}'}",
                  file=sys.stderr)
            return 1
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)

        t_check = time.perf_counter()
        verdict = check_all(res["outputs"], data)
        failed = sorted(n for n, why in verdict.items() if why is not None)
        for n in failed:
            print(f"FAILED {n}: {verdict[n]}", file=sys.stderr)
        if a.trace:
            metrics = {k: (v, layer_unit(k)) for k, v in sorted(res["layers"].items())}
        else:
            metrics = end_to_end(res, spec.tail_pct)
        print(f"# {a.workload} seed={a.seed} sf={spec.sf} passes={[round(p, 2) for p in res['passes']]} "
              f"worker_s={t_worker:.1f} check_s={time.perf_counter() - t_check:.1f} "
              f"ops/pass={res['ops_per_pass']} samples={len(res['latencies_ms'])} "
              f"checked={len(verdict)} fail_frac={len(failed) / max(1, len(verdict)):.4f}")
        for k, (v, unit) in metrics.items():
            print(f"{k:48s} {v:14.6f} {unit}")
        print(json.dumps({
            "correct": not failed,
            "attempted": len(verdict),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass


if __name__ == "__main__":
    sys.exit(main())
