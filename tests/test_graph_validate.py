"""Debug-mode guards for the graph ops' assume_* fast-path flags (round 15).

The round-14 verdict flagged ``assume_distinct`` / ``assume_full_in_degree``
as silent-corruption flags: a wrong caller claim double-counts triangles or
drops in-edge-less nodes with no runtime check.  ``validate=True`` asserts
the claim on a hash-sampled bucket; these tests exercise a VIOLATING input
(constructed so the violation lands in the sampled bucket, making the check
deterministic) and the clean-input pass-through.
"""

import pytest
from pyspark.sql import functions as F

from dftly_spark.ops.graph import _VALIDATE_BUCKETS


def _bucket0_edge(spark, lo=0, hi=2000):
    """A canonical (u, v=u+10000) edge whose xxhash64 lands in bucket 0 —
    the bucket ``validate=True`` samples — found via Spark itself so the
    test stays deterministic without hard-coding hash values."""
    df = spark.range(lo, hi).select(
        F.col("id").alias("u"), (F.col("id") + 10000).alias("v")
    )
    row = (
        df.where(F.pmod(F.xxhash64("u", "v"), F.lit(_VALIDATE_BUCKETS)) == 0)
        .orderBy("u")
        .first()
    )
    assert row is not None
    return row["u"], row["v"]


def _bucket0_node(spark, lo=0, hi=2000):
    row = (
        spark.range(lo, hi)
        .where(F.pmod(F.xxhash64("id"), F.lit(_VALIDATE_BUCKETS)) == 0)
        .orderBy("id")
        .first()
    )
    assert row is not None
    return row["id"]


def test_triangle_count_validate_catches_false_assume_distinct(spark):
    from dftly_spark.ops import triangle_count

    u, v = _bucket0_edge(spark)
    # a triangle plus a DUPLICATED canonical edge (u, v)
    edges = spark.createDataFrame(
        [(u, v), (u, v), (v, u + 20000), (u, u + 20000)], ["src", "dst"]
    )
    with pytest.raises(ValueError, match="assume_distinct"):
        triangle_count(edges, assume_distinct=True, validate=True).collect()


def test_triangle_count_validate_passes_clean_input(spark):
    from dftly_spark.ops import triangle_count

    u, v = _bucket0_edge(spark)
    edges = spark.createDataFrame(
        [(u, v), (v, u + 20000), (u, u + 20000)], ["src", "dst"]
    )
    out = {
        r["node"]: r["triangles"]
        for r in triangle_count(edges, assume_distinct=True, validate=True).collect()
    }
    assert out == {u: 1, v: 1, u + 20000: 1}


def test_kcore_validate_catches_false_assume_distinct(spark):
    from dftly_spark.ops import kcore

    u, v = _bucket0_edge(spark)
    edges = spark.createDataFrame([(u, v), (u, v)], ["src", "dst"])
    with pytest.raises(ValueError, match="assume_distinct"):
        kcore(edges, 2, assume_distinct=True, validate=True).collect()


def test_pagerank_validate_catches_false_assume_full_in_degree(spark):
    from dftly_spark.ops import pagerank

    n = _bucket0_node(spark)
    # n has out-edges but NO in-edge; the fast path would silently drop it
    edges = spark.createDataFrame(
        [(n, n + 30000), (n + 30000, n + 30001), (n + 30001, n + 30000)],
        ["src", "dst"],
    )
    with pytest.raises(ValueError, match="assume_full_in_degree"):
        pagerank(
            edges,
            iters=2,
            repair_dangling=False,
            assume_full_in_degree=True,
            validate=True,
        ).collect()


def test_pagerank_validate_passes_symmetrized_graph(spark):
    from dftly_spark.ops import pagerank

    n = _bucket0_node(spark)
    # unweighted, then weighted with unequal weights: the first iteration
    # folds the constant initial rank into rank·w/strength on both paths
    sym = [(n, n + 30000, 3), (n + 30000, n, 3), (n, n + 30001, 1), (n + 30001, n, 1)]
    edges = spark.createDataFrame(sym, ["src", "dst", "w"])
    for weight in (None, "w"):
        base = {
            r["node"]: r["rank"]
            for r in pagerank(edges, iters=3, weight=weight).collect()
        }
        fast = {
            r["node"]: r["rank"]
            for r in pagerank(
                edges,
                iters=3,
                weight=weight,
                assume_distinct=True,
                repair_dangling=False,
                assume_full_in_degree=True,
                validate=True,
            ).collect()
        }
        assert fast == base
    assert base[n + 30000] > base[n + 30001]  # the weights moved rank mass


def test_pagerank_fast_path_iters_zero_matches_regular(spark):
    from dftly_spark.ops import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 1), (2, 3), (3, 2)], ["src", "dst"])
    base = sorted(
        (r["node"], r["rank"]) for r in pagerank(edges, iters=0).collect()
    )
    fast = sorted(
        (r["node"], r["rank"])
        for r in pagerank(
            edges,
            iters=0,
            repair_dangling=False,
            assume_full_in_degree=True,
        ).collect()
    )
    assert fast == base == [(1, 1.0), (2, 1.0), (3, 1.0)]
