"""Replicates the driver's t2 gate locally: every ``queries()`` entry vs its
DuckDB oracle at sf0.001 (row count + column names + order-insensitive
values)."""

import datetime as dt
import math
import os

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
# sf-dependent oracles (x56's fitted centroid literals) must fit against the
# SAME data this suite queries; the driver's gate leaves this at sf0.01.
os.environ["SPARK_GRAFT_GATE_SF_DIR"] = SF_DIR

import __spark_entry__ as entrymod  # noqa: E402
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    return v


def _rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


ALL = sorted(entrymod.queries())


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        assert len(srows) >= 0  # rows-only check, mirroring the driver
        return
    ores = ddb.execute(oracle)
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), f"{name}: row count differs"
    assert _rows_to_multiset(srows, scols) == _rows_to_multiset(orows, ocols), (
        f"{name}: values differ"
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) >= 4


def test_warm_caches_is_a_jobless_stub(spark):
    """bench.py calls warm_caches before timing; the contract keeps no
    session state, so it must return None without starting a Spark job."""
    import uuid

    sc = spark.sparkContext
    group = f"warm-caches-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "warm_caches must not start jobs")
    try:
        assert entrymod.warm_caches(spark, SF_DIR) is None
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the probe itself sees jobs started under the group
        spark.range(1).count()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


def test_priority_rotation_names_exist():
    """Every _PRIORITY rotation entry must name a registered query (and be
    unique) — _apply_priority_order raises on a stale/typo'd name, so the
    assertion here is simply that import-time validation passed AND stays
    honest against the live registry."""
    from dftly_spark.contract import _DEFS, _PRIORITY

    missing = [n for n in _PRIORITY if n not in _DEFS]
    assert not missing, f"stale _PRIORITY names: {missing}"
    assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate _PRIORITY names"
