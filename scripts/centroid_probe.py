#!/usr/bin/env python
"""Centroid-assignment probe: plan size and wall time of ``topic_assign``.

The k×dim centroid matrix reaches the executors as a checkpointed 1-row
broadcast, so the optimized plan stays the same size at any k; the score
computation is either the interpreted JVM fold or the Arrow/numpy matmul.
The library picks one from k alone (arrow at k >= 1024); this probe calls
both private scorers directly at a production-like shape (default
k=4096, dim=512) and prints:

  * driver-side plan-build wall time (centroid selection + matrix build)
  * optimized-plan string size
  * end-to-end execution wall time of the cell assignment

Usage: python scripts/centroid_probe.py [k] [dim] [modes]
  modes: comma list of scorers, fold,arrow (default both) — fold is the
  interpreted JVM fold, arrow the numpy matmul.
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, ".")

K = int(sys.argv[1]) if len(sys.argv) > 1 else 4096
DIM = int(sys.argv[2]) if len(sys.argv) > 2 else 512
MODES = tuple(sys.argv[3].split(",")) if len(sys.argv) > 3 else ("fold", "arrow")
N_ROWS = max(2 * K, 16384)
if not set(MODES) <= {"fold", "arrow"}:
    sys.exit(f"modes must be fold and/or arrow, got {','.join(MODES)}")


def main() -> None:
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "24g")
        .appName("centroid-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # deterministic synthetic embeddings: dim values derived from xxhash64
    emb = (
        spark.range(N_ROWS)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(DIM - 1)),
                lambda i: (
                    F.pmod(F.xxhash64(F.col("id"), i), F.lit(2000)) - F.lit(1000.0)
                )
                / F.lit(1000.0),
            ).alias("embedding"),
        )
        .localCheckpoint()
    )
    emb.count()

    from dftly_spark.ops.scale import durable_checkpoint
    from dftly_spark.ops.similarity import (
        _assign, _cents_numpy, _matrix_frame, choose_centroid_frame,
    )

    def assign(mode: str):
        cents = choose_centroid_frame(emb, n_centroids=K, strategy="first")
        # the fold scores against the checkpointed 1-row matrix frame, the
        # arrow matmul against a broadcast numpy matrix
        if mode == "fold":
            cmat = _matrix_frame(cents).transform(durable_checkpoint)
        else:
            cmat = spark.sparkContext.broadcast(_cents_numpy(cents))
        return _assign(
            emb, cmat,
            id_col="vec_id", vec_col="embedding", id_alias="_id", v_alias="_v",
        )

    results = {}
    for mode in MODES:
        t0 = time.perf_counter()
        out = assign(mode)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        t_build = time.perf_counter() - t0
        t1 = time.perf_counter()
        out.write.format("noop").mode("overwrite").save()
        t_exec = time.perf_counter() - t1
        results[mode] = (t_build, len(plan), t_exec)
        print(
            f"{mode:15s} k={K} dim={DIM}: plan_build={t_build:7.2f}s "
            f"plan_chars={len(plan):>12,} exec={t_exec:7.2f}s",
            flush=True,
        )

    if {"fold", "arrow"} <= results.keys():
        fold, arrow = results["fold"], results["arrow"]
        print(f"fold/arrow exec ratio: {fold[2] / max(arrow[2], 1e-9):.1f}x")
    spark.stop()


if __name__ == "__main__":
    main()
