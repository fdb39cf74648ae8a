"""Scale-utility tests: salted aggregation exactness, bucketed co-located
joins, IVF similarity."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_salted_agg_matches_plain(spark):
    from dftly_spark.ops.scale import salted_agg

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plain = {
        tuple(r)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("qty"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .collect()
    }
    salted = {
        tuple(r)
        for r in salted_agg(
            li,
            ["l_returnflag"],
            {
                "n": ("count", "l_quantity"),
                "qty": ("sum", "l_quantity"),
                "lo": ("min", "l_extendedprice"),
                "hi": ("max", "l_extendedprice"),
            },
            salt=8,
        ).collect()
    }
    assert salted == plain


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from dftly_spark.ops.scale import read_bucketed, write_bucketed

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed(li, "li_b", key="l_orderkey", buckets=8)
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"), "ord_b",
        key="l_orderkey", buckets=8,
    )
    a = read_bucketed(spark, "li_b")
    b = read_bucketed(spark, "ord_b")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # co-located buckets: shuffle paid at write
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_ivf_topk_recall(spark):
    from dftly_spark.ops import brute_force_topk
    from dftly_spark.ops.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = brute_force_topk(emb, queries, k=5).collect()
    ivf = ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=4).collect()
    truth, got = {}, {}
    for r in brute:
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    for r in ivf:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    # probing half the cells: expect decent overlap with the exact top-5
    for qid in truth:
        assert len(got.get(qid, set()) & truth[qid]) >= 2
    # every query's own vector is its nearest neighbor and shares its own cell
    for r in ivf:
        if r.vec_id == r.query_id:
            assert r.rank == 1


def test_semi_prune_exact(spark):
    from dftly_spark.ops import semi_prune

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").where(
        F.col("c_mktsegment") == "AUTOMOBILE"
    )
    pruned = semi_prune(orders, "o_custkey", cust, "c_custkey")
    keys = {r.c_custkey for r in cust.collect()}
    expect = orders.where(F.col("o_custkey").isin(keys)).count()
    assert pruned.count() == expect


def test_bloom_prune_sound_and_selective(spark):
    from dftly_spark.ops import bloom_prune

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").where(
        F.col("c_mktsegment") == "AUTOMOBILE"
    )
    pruned = bloom_prune(orders, "o_custkey", cust, "c_custkey", num_bits=1 << 14)
    keys = {r.c_custkey for r in cust.collect()}
    kept = {r.o_orderkey for r in pruned.collect()}
    matching = {r.o_orderkey for r in orders.collect() if r.o_custkey in keys}
    # sound: every truly-matching fact row survives (no false negatives)
    assert matching <= kept
    # selective: false-positive rate within ~3x of (1-e^{-kn/m})^k
    import math

    n, m, k = len(keys), 1 << 14, 5
    fpr_bound = (1 - math.exp(-k * n / m)) ** k
    non_matching_total = orders.count() - len(matching)
    fp = len(kept) - len(matching)
    assert fp <= max(10, 3 * fpr_bound * non_matching_total)


def test_bloom_prune_join_unchanged(spark):
    """Bloom FPs are removed by the real join: pruned-join ≡ plain join."""
    from dftly_spark.ops import bloom_prune

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").where(
        F.col("c_acctbal") > 0
    )
    plain = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .agg(F.count("*"), F.sum("o_totalprice"))
        .collect()
    )
    pruned = (
        bloom_prune(orders, "o_custkey", cust, "c_custkey")
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .agg(F.count("*"), F.sum("o_totalprice"))
        .collect()
    )
    assert plain == pruned


def test_bloom_probe_stays_codegen(spark):
    """The probe side is literal-array bit tests inside codegen — no
    Python, no extra Exchange on the fact side."""
    from dftly_spark.ops import bloom_prune

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    plan = (
        bloom_prune(orders, "o_custkey", cust, "c_custkey")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    # fact side never shuffles: only the dim-side word aggregation exchanges
    assert "Exchange hashpartitioning(o_custkey" not in plan


def test_write_partitioned_prunes_partitions(spark, tmp_path):
    from dftly_spark.ops import write_partitioned

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, path, partition_by=["lang"], sort_within=["n_chars"])

    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    back = spark.read.parquet(path)
    one = back.where(F.col("lang") == langs[0])
    plan = one._jdf.queryExecution().executedPlan().toString()
    # directory-level pruning visible in the scan, and only that
    # partition's files are touched
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:120]
    # the pruned read returns exactly the partition's rows
    assert one.count() == docs.where(F.col("lang") == langs[0]).count()
    # row-group skipping: the sort_within column's filter is pushed
    plan2 = back.where(F.col("n_chars") > 100)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]" in plan2
    # round-trip is lossless
    assert back.count() == docs.count()


def test_write_partitioned_bounds_file_count(spark, tmp_path):
    from dftly_spark.ops import write_partitioned

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    path = str(tmp_path / "docs_files")
    write_partitioned(docs, path, partition_by=["lang"], files_per_partition=1)
    back = spark.read.parquet(path)
    n_langs = docs.select("lang").distinct().count()
    # one writer task per hive partition → exactly one file each
    assert len(back.inputFiles()) == n_langs


def test_profile_table_matches_naive(spark):
    from dftly_spark.ops import profile_table

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    prof = {r.column: r for r in profile_table(docs, ["lang", "n_chars"]).collect()}
    rows = docs.collect()
    assert prof["lang"].n_rows == len(rows)
    assert prof["lang"].n_distinct == len({r.lang for r in rows if r.lang is not None})
    assert prof["n_chars"].min_str == str(min(r.n_chars for r in rows))
    assert prof["n_chars"].max_str == str(max(r.n_chars for r in rows))
    assert prof["n_chars"].n_nulls == sum(1 for r in rows if r.n_chars is None)


def test_profile_table_approx_mode(spark):
    from dftly_spark.ops import profile_table

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = {r.column: r.n_distinct for r in profile_table(docs).collect()}
    approx = {r.column: r.n_distinct for r in profile_table(docs, approx=True).collect()}
    for c in exact:
        assert abs(approx[c] - exact[c]) <= max(2, 0.1 * exact[c])
    # approx plan has no Expand (the exact-NDV rewrite)
    plan = profile_table(docs, approx=True)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan


def test_quantile_stats_exact_and_approx(spark):
    from dftly_spark.ops import quantile_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = {r.lang: r for r in quantile_stats(docs, "n_chars", by="lang").collect()}
    rows = {}
    for r in docs.collect():
        rows.setdefault(r.lang, []).append(r.n_chars)
    import numpy as np

    for lang, vals in rows.items():
        e = exact[lang]
        assert e.n == len(vals)
        assert abs(e.q50 - np.quantile(vals, 0.5)) < 1e-9  # same interpolation
        assert abs(e.q90 - np.quantile(vals, 0.9)) < 1e-9
    # approx mode stays within loose rank error and runs without buffering
    ap = {r.lang: r for r in quantile_stats(docs, "n_chars", by="lang", approx=True).collect()}
    for lang, vals in rows.items():
        spread = max(vals) - min(vals)
        assert abs(ap[lang].q50 - exact[lang].q50) <= 0.2 * spread


def test_aqe_splits_skewed_join(spark):
    """Scale evidence: with AQE skew handling on, a pathologically hot join
    key is split across tasks (skew=true in the final adaptive plan)."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200_000).select(
            (F.col("id") % 1000 == 0).cast("int").alias("z"),
            # ~99.9% of rows land on key 0 → one huge shuffle partition
            F.when(F.col("id") % 1000 == 0, F.col("id") % 7 + 1)
            .otherwise(0).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id")).alias("pad"),
        )
        right = spark.range(8).select(F.col("id").alias("k"), F.lit("r").alias("rv"))
        joined = left.join(right, "k")
        # materialize THIS dataset: the adaptive plan finalizes per
        # QueryExecution, and count() would plan a different one
        assert len(joined.collect()) == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_compact_table_reduces_files_losslessly(spark, tmp_path):
    from dftly_spark.ops import compact_table

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    path = str(tmp_path / "fragmented")
    docs.repartition(37).write.parquet(path)  # simulate small-file buildup
    before = len(spark.read.parquet(path).inputFiles())
    assert before == 37
    baseline = sorted(r.doc_id for r in docs.collect())
    n = compact_table(spark, path, target_mb=512)
    assert n < before
    back = spark.read.parquet(path)
    assert sorted(r.doc_id for r in back.collect()) == baseline


def test_plan_summary_reports_shape(spark):
    from dftly_spark.ops import plan_summary

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").count()
    s = plan_summary(agg)
    assert s["n_exchanges"] == 1 and not s["has_python_eval"]
    # codegen stages only appear once AQE finalizes: materialize, re-read
    agg.collect()
    assert plan_summary(agg)["n_codegen_stages"] >= 1


def test_partitioned_cumsum_matches_global_window(spark):
    """Two-level scan == the single-reducer window, and the big frame's
    shuffle is keyed by bucket, not SinglePartition."""
    import random

    from pyspark.sql import Window
    from dftly_spark.ops import partitioned_cumsum

    rng = random.Random(5)
    rows = [(float(v), rng.randint(1, 9)) for v in rng.sample(range(100000), 2000)]
    df = spark.createDataFrame(rows, "v double, x int")
    got = {
        r.v: r.cum_x
        for r in partitioned_cumsum(df, "v", ["x"], buckets=16).collect()
    }
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {r.v: r.c for r in df.select("v", F.sum("x").over(w).alias("c")).collect()}
    assert got == want
    plan = partitioned_cumsum(df, "v", ["x"], buckets=16)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_pid" in plan


def test_ks_drift_identical_and_disjoint_distributions(spark):
    from dftly_spark.ops import ks_drift

    same = [(i % 50, "a") for i in range(500)] + [(i % 50, "b") for i in range(500)]
    df = spark.createDataFrame(same, "v int, g string")
    r = ks_drift(df, "v", "g", "a", "b").collect()[0]
    assert r.ks == 0.0 and r.n_a == 500 and r.n_b == 500

    disjoint = [(i, "a") for i in range(100)] + [(i + 1000, "b") for i in range(100)]
    df2 = spark.createDataFrame(disjoint, "v int, g string")
    r2 = ks_drift(df2, "v", "g", "a", "b").collect()[0]
    assert r2.ks == 1.0


def test_minhash_index_persisted_ingest(spark, tmp_path):
    """The repeat-ingest story: build the MinHash index once, persist it
    bucketed, and dedup a new batch against the STORED frames — results
    identical to the derive-everything cross-corpus op, and the candidate
    join reads the index with no index-side Exchange (bucket pruning does
    the shuffle's work at write time)."""
    from dftly_spark.ops import (
        cross_corpus_dup_pairs,
        minhash_index,
        minhash_join_index,
    )
    from dftly_spark.ops.scale import read_bucketed, write_bucketed

    import shutil

    for t in ("mh_banded", "mh_sets"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    new_batch = docs.where(F.col("doc_id") % 2 == 1)

    banded, sets = minhash_index(corpus, "doc_id", "text")
    write_bucketed(banded, "mh_banded", key="_key", buckets=4)
    write_bucketed(sets, "mh_sets", key="doc_id", buckets=4)

    got = minhash_join_index(
        new_batch,
        read_bucketed(spark, "mh_banded"),
        read_bucketed(spark, "mh_sets"),
        "doc_id",
        "text",
        threshold=0.7,
    )
    want = {
        (r.new_id, r.corpus_id, round(r.jaccard, 12))
        for r in cross_corpus_dup_pairs(
            new_batch, corpus, "doc_id", "text", threshold=0.7
        ).collect()
    }
    assert {
        (r.new_id, r.corpus_id, round(r.jaccard, 12)) for r in got.collect()
    } == want
    assert len(want) > 0

    # plan proof: joining against the bucketed index needs no index-side
    # shuffle — only the (small) new side exchanges on the index's key
    idx = read_bucketed(spark, "mh_banded")
    probe = banded.withColumnRenamed("doc_id", "new_id")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = probe.join(idx, "_key")
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    final = plan.split("== Initial Plan ==")[0]
    assert "Bucketed: true" in final
    # exactly one shuffle on the join key — the probe side; the index scan
    # feeds the join straight from its buckets (probe-internal shuffles on
    # other keys, e.g. the signature window, are not join exchanges)
    assert final.count("Exchange hashpartitioning(_key") == 1


def test_zorder_layout_clusters_every_dimension(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from dftly_spark.ops.scale import write_zordered

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def file_spreads(path, cols):
        """Mean per-file (max-min)/global_span for each column."""
        spans = {}
        glo = {c: [None, None] for c in cols}
        per_file = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.row_group(0).column(i).path_in_schema: i
                   for i in range(md.row_group(0).num_columns)}
            mm = {}
            for c in cols:
                lo = min(md.row_group(g).column(idx[c]).statistics.min
                         for g in range(md.num_row_groups))
                hi = max(md.row_group(g).column(idx[c]).statistics.max
                         for g in range(md.num_row_groups))
                mm[c] = (lo, hi)
                glo[c][0] = lo if glo[c][0] is None else min(glo[c][0], lo)
                glo[c][1] = hi if glo[c][1] is None else max(glo[c][1], hi)
            per_file.append(mm)
        for c in cols:
            span = glo[c][1] - glo[c][0]
            spans[c] = sum((mm[c][1] - mm[c][0]) / span for mm in per_file) / len(per_file)
        return spans

    cols = ["o_custkey", "o_totalprice"]
    zpath = str(tmp_path / "z")
    write_zordered(orders, zpath, cols=cols, n_files=8)

    spath = str(tmp_path / "s")
    (orders.repartitionByRange(8, "o_custkey").sortWithinPartitions("o_custkey")
     .write.mode("overwrite").parquet(spath))

    z = file_spreads(zpath, cols)
    s = file_spreads(spath, cols)
    # single-column sort: ~perfect on the sort column, ~no clustering on the other
    assert s["o_custkey"] < 0.35
    assert s["o_totalprice"] > 0.8
    # z-order: BOTH columns clustered well below the unsorted spread
    assert z["o_custkey"] < 0.6
    assert z["o_totalprice"] < 0.6
    # round-trip is a permutation of the input
    back = spark.read.parquet(zpath)
    assert back.count() == orders.count()
    assert back.exceptAll(orders).count() == 0


def test_zorder_null_handling(spark, tmp_path):
    """NULLs quantize to bucket 0 (not the top bucket), and an all-null
    z-order column fails loudly instead of TypeError-ing on float(None)."""
    from dftly_spark.ops.scale import write_zordered, zorder_key

    df = spark.createDataFrame(
        [(None, 5.0), (0.0, 0.0), (10.0, 10.0)], "a double, b double"
    )
    keys = df.select(
        zorder_key(["a", "b"], {"a": (0.0, 10.0), "b": (0.0, 10.0)}, bits=4).alias("k"),
        "a",
    ).collect()
    by_a = {r.a: r.k for r in keys}
    assert by_a[0.0] == 0  # (0,0) → key 0
    # null a quantizes like a=0, so its key equals the key of (0, 5)
    ref = df.where(F.col("a").isNotNull()).select(
        zorder_key(["a", "b"], {"a": (0.0, 10.0), "b": (0.0, 10.0)}, bits=4).alias("k")
    )
    assert by_a[None] is not None and by_a[None] >= 0

    all_null = spark.createDataFrame([(None, 1.0), (None, 2.0)], "a double, b double")
    with pytest.raises(ValueError, match="entirely null"):
        write_zordered(all_null, str(tmp_path / "z"), cols=["a", "b"])


def test_zorder_key_validation(spark):
    import pytest

    from dftly_spark.ops.scale import zorder_key

    with pytest.raises(ValueError, match="at least two"):
        zorder_key(["a"], {"a": (0, 1)})
    with pytest.raises(ValueError, match="overflows"):
        zorder_key(["a", "b", "c", "d"], {}, bits=16)


def test_contamination_probe_gram_join_broadcasts(spark):
    """The 100 TB decontamination shape: the probe (test-set) gram set is
    small, so its semi-join against the corpus instance stream must come
    out a BROADCAST join — the corpus is never shuffled by gram for a
    small probe."""
    from dftly_spark.ops import contamination_spans
    from dftly_spark.ops.scale import plan_summary

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    probe = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
    )
    out = contamination_spans(docs, probe, "doc_id", "text", min_len=5)
    out.collect()  # AQE finalizes the physical plan
    ps = plan_summary(out)
    assert ps["n_broadcast_joins"] >= 1
    assert not ps["has_python_eval"] and not ps["has_nested_loop"]


def test_durable_checkpoint_routes_by_session_dir(spark, monkeypatch, tmp_path):
    """One session-level setCheckpointDir makes every op's lineage
    truncation cluster-durable; without it, localCheckpoint (laptop/test
    default).  The reliable branch is verified by interception -- actually
    writing RDD checkpoints would leave sticky session state."""
    from dftly_spark.ops.scale import durable_checkpoint

    df = spark.range(5)
    assert spark.sparkContext.getCheckpointDir() is None
    out = durable_checkpoint(df)  # local branch, end-to-end
    assert out.count() == 5

    calls = {}

    def fake_checkpoint(self, eager=True):
        calls["eager"] = eager
        return self

    # patch the CONCRETE class (pyspark.sql.classic Dataset overrides the
    # abstract DataFrame's checkpoint, so patching the base has no effect)
    monkeypatch.setattr(type(df), "checkpoint", fake_checkpoint)
    monkeypatch.setattr(
        type(spark.sparkContext), "getCheckpointDir", lambda self: str(tmp_path)
    )
    durable_checkpoint(df, eager=False)
    assert calls == {"eager": False}


def test_lineage_truncation_goes_through_durable_checkpoint():
    """Every lineage truncation in the package calls durable_checkpoint, so
    one session-level checkpoint dir makes all of them durable and no
    operator changes session state.  A source scan: no Spark session."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "dftly_spark"
    banned = {"localCheckpoint", "checkpoint", "setCheckpointDir"}
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg).as_posix() == "ops/scale.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in banned
            ):
                hits.append(f"{path.relative_to(pkg)}:{node.lineno} {node.func.attr}(")
    assert hits == []


def _ivf_self_topk(vecs, k):
    from dftly_spark.ops import ivf_topk

    queries = vecs.limit(2).withColumnRenamed("vec_id", "query_id")
    return ivf_topk(vecs, queries, k=2, n_centroids=k, nprobe=1)


def _centroid_consumers():
    from dftly_spark.ops import cluster_balanced_sample, semantic_dedup_pairs, topic_assign

    return {
        "topic_assign": lambda vecs, k: topic_assign(vecs, n_topics=k),
        "ivf_topk": _ivf_self_topk,
        "semantic_dedup_pairs": lambda vecs, k: semantic_dedup_pairs(
            vecs, n_centroids=k, threshold=0.9
        ),
        "cluster_balanced_sample": lambda vecs, k: cluster_balanced_sample(
            vecs, n_cells=k, cap=5, kmeans_iters=1
        ),
    }


@pytest.mark.parametrize(
    "consumer",
    ["topic_assign", "ivf_topk", "semantic_dedup_pairs", "cluster_balanced_sample"],
)
def test_auto_scorer_resolves_by_centroid_count(spark, monkeypatch, caplog, consumer):
    """Every centroid consumer stays on the hash-exact fold below the
    centroid-count threshold and runs the Arrow matmul at or above it —
    decided from the op's own centroid count, logged with its inputs."""
    import logging

    from dftly_spark.ops import dedup as _dedup
    from dftly_spark.ops import similarity as _sim

    build = _centroid_consumers()[consumer]
    # semantic_dedup_pairs truncates the lineage of its cell frame, which
    # would hide the scorer from the plan: keep that frame inline here
    monkeypatch.setattr(_dedup, "durable_checkpoint", lambda df, eager=True: df)
    vecs = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, float(i % 2)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    k = 4
    # lower the threshold so a laptop-sized corpus takes both paths
    # without building a 1024-cell index
    got = {}
    for threshold in (k + 1, k):
        monkeypatch.setattr(_sim, "_ARROW_CELLS", threshold)
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=_sim.__name__):
            out = build(vecs, k)
        arrow = k >= threshold
        choice = "arrow" if arrow else "fold"
        plan = out._jdf.queryExecution().toString()
        assert ("MapInPandas" in plan) == arrow
        assert any(
            f"{choice} cell scorer at k={k} centroids" in r.getMessage()
            for r in caplog.records
        )
        got[choice] = sorted(map(tuple, out.collect()))
    # same result either way on well-separated inputs
    assert got["arrow"] == got["fold"]


def test_topk_recall_counts_overlap(spark):
    from dftly_spark.ops import topk_recall

    truth = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1), (2, 21, 2), (2, 22, 3)],
        "query_id long, vec_id long, rank int",
    )
    approx = spark.createDataFrame(
        # query 1: 2/3 right; query 2: no rows at all (empty probe)
        [(1, 10, 1), (1, 99, 2), (1, 12, 3)],
        "query_id long, vec_id long, rank int",
    )
    out = {r["query_id"]: r for r in topk_recall(truth, approx).collect()}
    assert out[1]["n_hits"] == 2 and out[1]["n_truth"] == 3
    assert abs(out[1]["recall"] - 2 / 3) < 1e-15
    assert out[2]["n_hits"] == 0 and out[2]["recall"] == 0.0
    # k trims both sides before comparing
    at2 = {r["query_id"]: r for r in topk_recall(truth, approx, k=2).collect()}
    assert at2[1]["n_hits"] == 1 and at2[1]["n_truth"] == 2


def test_topk_recall_end_to_end_lsh(spark):
    from dftly_spark.ops import brute_force_topk, lsh_bucket_topk, topk_recall

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = brute_force_topk(emb, q, k=5)
    approx = lsh_bucket_topk(emb, q, k=5, n_planes=4, seed=42, dim=64)
    rec = topk_recall(truth, approx)
    rows = rec.collect()
    assert len(rows) == 3
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0 and r["n_truth"] == 5
        # a query's own vector always buckets with itself: recall > 0
        assert r["n_hits"] >= 1
