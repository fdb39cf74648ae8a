"""Skew and shuffle hygiene utilities for 1000-executor-scale jobs.

Two standard patterns, packaged:

* :func:`salted_agg` — two-phase aggregation for skewed group keys: a random
  salt splits each hot key across ``salt`` partial groups (map-side combine
  still applies), then a second exact-key pass merges partials.  Turns one
  straggler reducer into ``salt`` parallel ones.
* :func:`write_bucketed` / :func:`read_bucketed` — persist a table bucketed
  by its join key so repeated joins on that key are co-located (no Exchange
  in the join plan).  This is the batch analogue of co-partitioned state:
  pay the shuffle once at write time, never again.
* :func:`bloom_prune` / :func:`semi_prune` — cut the fact side of a
  fact⋈dim join *before* its shuffle.  ``semi_prune`` is the exact form (a
  broadcast left-semi on the dim keys); ``bloom_prune`` is the
  constant-memory form for dim key sets too large to broadcast exactly: a
  Bloom filter over the dim keys, built with a distributed ``bit_or``
  aggregation and shipped to every fact task as one broadcast row.  False
  positives only — the downstream join stays exact — so it composes with
  any join without changing results, like Spark's internal runtime-filter
  rewrite (which is not exposed for pre-shuffle *aggregation* pruning or
  non-equi plans).

AQE (``spark.sql.adaptive.enabled`` + skew-join handling) covers many join
skews automatically; ``salted_agg`` is for the aggregation case AQE doesn't
split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: merge function for each partial-aggregate kind
_MERGE = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}
_PARTIAL = {"count": F.count, "sum": F.sum, "min": F.min, "max": F.max}


def durable_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Lineage-truncating checkpoint that is CLUSTER-DURABLE when the
    session has a checkpoint dir configured, local otherwise.

    Every multi-pass op in this package truncates lineage at its reuse
    points (the frame is referenced 2+ times downstream — without
    truncation the whole upstream plan re-executes per reference).
    ``localCheckpoint`` is the right default on a laptop or in tests, but
    it stores blocks on executors only: on a real cluster an executor loss
    silently recomputes-or-fails mid-job.  This helper routes through
    ``df.checkpoint()`` (reliable, written to the configured directory —
    HDFS/S3 on a cluster) whenever the user has called
    ``spark.sparkContext.setCheckpointDir(...)``, so ONE session-level
    setting makes every op's truncation points durable; no per-op
    parameter needed.

    Retention: Spark does NOT delete reliable checkpoint files when the
    RDD is garbage-collected unless the session was built with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (a
    context-construction conf, default false).  Iterative ops (label
    propagation, BPE merge rounds) checkpoint once per round, so a
    long-lived session with a checkpoint dir but without that conf
    accumulates one frame snapshot per round per invocation — set the
    conf on clusters, or point the dir at storage with a TTL policy.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    *,
    salt: int = 32,
) -> DataFrame:
    """Two-phase (salted) aggregation: exact results, skew-proof shuffle.

    ``aggs`` maps output name → ``(kind, column)`` with kind in
    ``count|sum|min|max`` (the re-aggregable kinds).  Phase 1 groups by
    (keys, random salt in [0, salt)); phase 2 merges partials by the exact
    keys.  Results are identical to a plain ``groupBy(keys).agg(...)``.
    """
    for kind, _ in aggs.values():
        if kind not in _MERGE:
            raise ValueError(f"unsupported re-aggregable kind: {kind}")
    salted = df.withColumn("_salt", (F.rand(seed=0) * salt).cast("int"))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[_PARTIAL[kind](col).alias(name) for name, (kind, col) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[_MERGE[kind](name).alias(name) for name, (kind, _) in aggs.items()]
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    key: str,
    buckets: int = 32,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) managed table.

    Joins between two tables bucketed on the same key with the same bucket
    count are co-located: the join plan has no Exchange, so the shuffle is
    paid once at write time instead of on every query.
    """
    writer = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str],
    sort_within: list[str] | None = None,
    files_per_partition: int = 1,
) -> None:
    """Hive-partitioned parquet layout for partition pruning + row-group
    skipping.

    A filter on a ``partition_by`` column prunes whole directories at plan
    time (``PartitionFilters`` in the scan — zero I/O for dead
    partitions).  ``sort_within`` clusters rows inside each file so
    parquet row-group min/max stats make pushed filters on *those* columns
    skip pages too.  The pre-write ``repartition`` bounds the file count:
    without it every task writes every partition (tasks × partitions small
    files — the classic 100 TB layout mistake).
    """
    keys = [F.col(c) for c in partition_by]
    if files_per_partition > 1:
        # salt splits each hive partition across N writer tasks → N files
        keys.append((F.rand(seed=0) * files_per_partition).cast("int"))
    out = df.repartition(*keys)
    if sort_within:
        out = out.sortWithinPartitions(*partition_by, *sort_within)
    out.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def semi_prune(fact: DataFrame, fact_key: str, dim: DataFrame, dim_key: str) -> DataFrame:
    """Exact pre-shuffle pruning: broadcast left-semi on the dim's keys.

    Use when the dim's *distinct key set* fits a broadcast (the usual
    star-schema case).  The fact's big shuffle then moves only rows that
    will survive the join.
    """
    keys = F.broadcast(dim.select(F.col(dim_key).alias(fact_key)).distinct())
    return fact.join(keys, fact_key, "left_semi")


def bloom_prune(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    *,
    num_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Bloom-filter pre-shuffle pruning of ``fact`` against ``dim``'s keys.

    Sound (never drops a matching fact row); false positives pass through
    and are removed by whatever join follows.  With the default 2²⁰ bits /
    5 hashes the filter is 128 KiB regardless of dim size, with fpr ≈
    (1-e^{-kn/m})^k — ~3% at n=10⁵ keys; size ``num_bits`` ≈ 10·n for ~1%.

    Everything stays JVM-side and distributed:

    * build — each dim key is hashed to ``k`` bit positions
      (``xxhash64(key, i) mod m``), positions aggregate into 64-bit words
      via partial-merging ``bit_or``, and one final single-row aggregate
      densifies the words into an ``array<bigint>``;
    * probe — that one row is broadcast (BroadcastNestedLoopJoin with a
      single-row build side ≡ a broadcast variable) and each fact row
      checks its ``k`` bits with O(1) ``element_at`` lookups inside
      whole-stage codegen.
    """
    n_words = (num_bits + 63) // 64

    def positions(col: str) -> list:
        return [
            F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(num_bits))
            for i in range(k)
        ]

    words = (
        dim.select(F.explode(F.array(*positions(dim_key))).alias("__pos"))
        .select(
            (F.col("__pos") / 64).cast("long").alias("__w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))").alias("__b"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__b").alias("__bits"))
    )
    # densify: every word index 0..n_words-1 gets its bits (or 0), then one
    # order-preserving collect — array_sort on (index, bits) structs, so the
    # unordered collect_list still yields a position-addressable array
    all_words = (
        fact.sparkSession.range(n_words)
        .join(words, F.col("id") == F.col("__w"), "left")
        .select(F.col("id").alias("__w"), F.coalesce("__bits", F.lit(0)).alias("__bits"))
    )
    dense = all_words.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__w", "__bits"))),
            lambda s: s["__bits"],
        ).alias("__bf")
    )

    probed = fact.crossJoin(F.broadcast(dense)).withColumns(
        {f"__p{i}": p for i, p in enumerate(positions(fact_key))}
    )
    # all k bits set: (bf[pos/64] >> (pos%64)) & 1 = 1
    test = F.lit(True)
    for i in range(k):
        test = test & F.expr(
            f"(shiftright(element_at(__bf, CAST(__p{i} / 64 AS INT) + 1),"
            f" CAST(__p{i} % 64 AS INT)) & 1) = 1"
        )
    return probed.where(test).drop("__bf", *[f"__p{i}" for i in range(k)])


def partitioned_cumsum(
    df: DataFrame,
    order_col: str,
    value_cols: list[str],
    *,
    buckets: int = 64,
    prefix: str = "cum_",
) -> DataFrame:
    """Distributed prefix sums: running totals of ``value_cols`` in
    ``order_col`` order, without a single-partition window.

    A bare ``Window.orderBy(...)`` funnels the whole table through ONE
    reducer — the canonical scale-killer for global cumulative sums.  This
    is the classic two-level scan instead:

    1. rows are bucketed by ``order_col`` range (boundaries from a one-shot
       ``approxQuantile`` at plan-build time — boundary placement affects
       only partition sizes, never results);
    2. each bucket computes its local running sums in parallel (keyed
       window);
    3. per-bucket totals (``buckets`` rows) get their own tiny cumulative
       offsets, joined back by bucket id.

    ``order_col`` must be numeric and unique per row (pre-aggregate to
    distinct values first — ties would make a running sum order-dependent
    in ANY engine).  Appends one ``prefix<col>`` column per value column.
    """
    probs = [i / buckets for i in range(1, buckets)]
    bounds = df.stat.approxQuantile(order_col, probs, 0.01)
    pid = F.lit(0)
    for b in sorted(set(bounds)):
        pid = pid + (F.col(order_col) > F.lit(b)).cast("int")
    from pyspark.sql import Window

    keyed = df.withColumn("_pid", pid)
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = keyed.select(
        "*", *[F.sum(c).over(w_local).alias(f"_loc_{c}") for c in value_cols]
    )
    totals = keyed.groupBy("_pid").agg(
        *[F.sum(c).alias(f"_tot_{c}") for c in value_cols]
    )
    # offsets over the tiny totals frame: `buckets` rows, so the
    # single-partition window here is O(buckets), not O(rows)
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_tot_{c}").over(w_off), F.lit(0)).alias(f"_off_{c}")
            for c in value_cols
        ],
    )
    out = local.join(F.broadcast(offsets), "_pid")
    for c in value_cols:
        out = out.withColumn(prefix + c, F.col(f"_loc_{c}") + F.col(f"_off_{c}"))
    return out.drop("_pid", *[f"_loc_{c}" for c in value_cols], *[f"_off_{c}" for c in value_cols])


def plan_summary(df: DataFrame) -> dict:
    """Physical-plan introspection for tests and pipeline CI gates.

    Returns counts the scale discipline cares about: shuffles, codegen
    stages, Python eval nodes, nested-loop joins, broadcast joins.  Usage:
    assert ``plan_summary(df)["n_exchanges"] <= 1`` next to the operator
    that promises it.

    Under AQE the pre-execution plan is not final and reports 0 codegen
    stages — materialize the SAME DataFrame first (``df.collect()`` /
    noop write) when asserting on ``n_codegen_stages``.
    """
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages appear as `*(N) Op` prefixes in the tree string
    stages = set(re.findall(r"\*\((\d+)\)", plan))
    return {
        "n_exchanges": plan.count("Exchange hashpartitioning"),
        "n_codegen_stages": len(stages),
        "has_python_eval": "BatchEvalPython" in plan or "ArrowEvalPython" in plan,
        "has_nested_loop": "BroadcastNestedLoopJoin" in plan
        or "CartesianProduct" in plan,
        "n_broadcast_joins": plan.count("BroadcastHashJoin"),
        "n_sort_merge_joins": plan.count("SortMergeJoin"),
    }


def compact_table(
    spark: SparkSession,
    path: str,
    *,
    target_mb: int = 512,
    partition_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~``target_mb`` files (small-file
    compaction).

    Long-running pipelines accumulate small files (per-microbatch sinks,
    over-parallel writers); at 100 TB that turns every downstream scan into
    a metadata storm.  Sizes the output from the INPUT's on-disk bytes
    (compression-representative), writes to a sibling temp dir, then swaps
    atomically-enough for a single-writer pipeline.  Returns the output
    file count.
    """
    import math
    import os
    import shutil

    df = spark.read.parquet(path)
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    tmp = path.rstrip("/") + "._compact_tmp"
    writer = df.repartition(n_files)
    if partition_by:
        writer = df.repartition(n_files, *[F.col(c) for c in partition_by])
        writer.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)
    else:
        writer.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.replace(tmp, path)
    out = spark.read.parquet(path)
    return len(out.inputFiles())


def zorder_key(
    cols: list[str],
    ranges: dict[str, tuple[float, float]],
    *,
    bits: int = 16,
):
    """Z-order (Morton) key over 2+ numeric columns as one codegen'd column.

    Each column is min-max normalized into ``bits`` levels using the
    supplied ``ranges`` (collect them once with an agg — they are layout
    parameters, not per-row state), then the level bits are interleaved so
    nearby key values are nearby in EVERY dimension.  Pure integer
    shift/or arithmetic — whole-stage codegen, no UDF.

    NULL values quantize to level 0 explicitly (they sort together at the
    low end of the curve, the same choice as NULLS FIRST), rather than
    whatever ``greatest``/``least``'s null-skipping would leave behind.
    """
    if len(cols) < 2:
        raise ValueError("z-ordering needs at least two columns")
    if bits * len(cols) > 63:
        raise ValueError(f"{len(cols)} cols x {bits} bits overflows a signed long")
    levels = (1 << bits) - 1
    quantized = []
    for c in cols:
        lo, hi = ranges[c]
        span = (hi - lo) or 1.0
        q = F.floor(
            (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(span) * levels
        ).cast("bigint")
        clamped = F.greatest(F.lit(0), F.least(F.lit(levels), q))
        quantized.append(F.coalesce(clamped, F.lit(0).cast("bigint")))
    key = F.lit(0).cast("bigint")
    for j in range(bits):
        for i, q in enumerate(quantized):
            bit = F.shiftright(q, j).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, j * len(quantized) + i))
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    *,
    cols: list[str],
    bits: int = 16,
    n_files: int = 8,
) -> None:
    """Parquet layout clustered on a Z-order curve over ``cols``.

    A single-column sort gives perfect min/max file skipping on that column
    and none on any other; the Morton layout spends a few bits of each —
    every file covers a narrow range of EVERY z-ordered column, so parquet
    footer stats prune files for predicates on any of them (the Delta/
    Iceberg ``OPTIMIZE ZORDER BY`` recipe, expressed as plain Spark).

    One agg collects the column ranges, then ONE range-partitioning
    shuffle (``repartitionByRange`` on the key samples ~``n_files``
    contiguous z-ranges) + in-partition sort produces exactly ``n_files``
    clustered files.
    """
    row = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"_hi_{c}") for c in cols],
    ).collect()[0]
    for c in cols:
        if row[f"_lo_{c}"] is None:
            raise ValueError(
                f"z-order column {c!r} is entirely null — no range to quantize; "
                "drop it from cols= or filter the frame first"
            )
    ranges = {c: (row[f"_lo_{c}"], row[f"_hi_{c}"]) for c in cols}
    key = zorder_key(cols, ranges, bits=bits)
    (
        df.withColumn("_z", key)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    *,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: the big side's hot keys fan out over ``salt``
    sub-partitions; the small side replicates ``salt``× row-locally.

    The join-side twin of :func:`salted_agg`, for when AQE's runtime skew
    split isn't available (disabled, streaming-static, or a skew AQE can't
    see because the hot key emerges mid-plan).  Results are EXACTLY the
    plain join's: every (key, salt) bucket sees the full right-side row
    set for its key, so matches are preserved and nothing duplicates —
    the oracle replays it as the unsalted join.

    ``left`` should be the BIG/skewed side.  Its per-row salt comes from
    ``xxhash64`` over the whole row (deterministic across retries and
    repartitionings — never ``rand()``); the right side's replication is a
    row-local ``explode`` of ``salt`` literals, NOT a range crossJoin (no
    nested-loop node, and the replicas fuse into the scan).  Supported
    ``how``: inner / left (semantics preserved per bucket).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    sl = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    l_s = left.withColumn("__salt", sl)
    r_s = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = l_s.join(r_s, keys + ["__salt"], how)
    return out.drop("__salt")
