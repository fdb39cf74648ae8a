"""Table I/O round-trips: schema fidelity per format, FAILFAST defaults,
and the parquet footer schema against Spark's own inference."""

import datetime as dt
import decimal
import glob
import importlib.util
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dftly_spark.io import _footer_schema, _row_bound, read_table, register_views, write_table

ROOT = Path(__file__).resolve().parents[1]
SF001 = "/root/testdata/sf0.001"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"

SCHEMA = "id bigint, name string, score double, flag boolean, at timestamp"
ROWS = [
    (1, "a", 1.5, True, dt.datetime(2024, 1, 1, 12, 30, 0)),
    (2, "b,with,commas", -0.25, False, dt.datetime(2024, 6, 1, 0, 0, 1)),
    (3, None, None, None, None),
]


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


@pytest.mark.parametrize("fmt", ["parquet", "csv", "jsonl", "orc"])
def test_round_trip_preserves_schema_and_values(spark, frame, tmp_path, fmt):
    path = str(tmp_path / fmt)
    write_table(frame, path, format=fmt)
    back = read_table(spark, path, format=fmt, schema=SCHEMA)
    assert back.schema == frame.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, frame.collect()))


def test_jsonl_round_trips_nested_types(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, ["x", "y"], {"k": 2})],
        "id bigint, tags array<string>, props map<string,bigint>",
    )
    path = str(tmp_path / "nested")
    write_table(df, path, format="jsonl")
    back = read_table(
        spark, path, format="jsonl",
        schema="id bigint, tags array<string>, props map<string,bigint>",
    )
    r = back.collect()[0]
    assert r.tags == ["x", "y"] and r.props == {"k": 2}


def test_csv_requires_schema(spark, tmp_path):
    with pytest.raises(ValueError, match="explicit DDL schema"):
        read_table(spark, str(tmp_path), format="csv")


def test_failfast_raises_on_malformed(spark, tmp_path):
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part.json").write_text('{"id": 1}\n{not json at all\n')
    df = read_table(spark, str(bad), format="jsonl", schema="id bigint")
    with pytest.raises(Exception, match="FAILFAST|Malformed"):
        df.collect()
    # explicit opt-in to salvage
    ok = read_table(
        spark, str(bad), format="jsonl", schema="id bigint", mode="PERMISSIVE"
    )
    assert [r.id for r in ok.collect()] == [1, None]


def test_partitioned_write(spark, frame, tmp_path):
    path = str(tmp_path / "parts")
    write_table(frame.where(F.col("flag").isNotNull()), path, partition_by=["flag"])
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert {f"flag={r.flag}" for r in back.collect()} <= {"flag=true", "flag=false"}


def test_register_views(spark):
    register_views(spark, SF001, ["region", "nation"])
    got = spark.sql(
        "SELECT count(*) AS n FROM region JOIN nation ON r_regionkey = n_regionkey"
    ).collect()[0].n
    assert got == 25


def test_text_round_trip_and_guard(spark, frame, tmp_path):
    path = str(tmp_path / "txt")
    write_table(frame.select(F.col("name").alias("value")), path, format="text")
    back = read_table(spark, path, format="text")
    assert back.columns == ["value"]
    # text has no null encoding: None rows write as empty lines
    assert sorted(r.value for r in back.collect()) == ["", "a", "b,with,commas"]
    with pytest.raises(ValueError, match="one string column"):
        write_table(frame, str(tmp_path / "bad"), format="text")


# -- the footer schema ---------------------------------------------------


@pytest.fixture
def conf(spark):
    """Set session confs for one test; the old values come back after it."""
    old = {}

    def set_(key, value):
        old.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_
    for key, value in old.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def _datagen_tables(tmp_path_factory) -> list:
    spec = importlib.util.spec_from_file_location("datagen", ROOT / "perfbench/datagen.py")
    datagen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(datagen)
    paths = []
    for seed in (7, 21):
        out = datagen.write(seed, 0.001, str(tmp_path_factory.mktemp(f"datagen{seed}")))
        paths += sorted(glob.glob(f"{out}/*.parquet"))
    return paths


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_footer_schema_equals_inference_on_table_data(spark, conf, tmp_path_factory, nanos_as_long):
    conf(NANOS, nanos_as_long)
    paths = sorted(glob.glob(f"{SF001}/*.parquet")) + _datagen_tables(tmp_path_factory)
    assert len(paths) == 30
    for path in paths:
        footer = _footer_schema(spark, path)
        assert footer is not None, path
        assert footer == spark.read.parquet(path).schema, path


def _nested():
    inner = pa.struct([("a", pa.list_(pa.int8())), ("m", pa.map_(pa.string(), pa.float64()))])
    return pa.array([[{"a": [1, None], "m": [("k", 2.0)]}]], pa.list_(inner))


# (arrow column, pyarrow write options, session confs, mapped by the footer)
SYNTHETIC = {
    "nanos_as_long": (pa.array([1], pa.timestamp("ns")), {}, {NANOS: "true"}, True),
    "nanos_illegal": (pa.array([1], pa.timestamp("ns")), {}, {NANOS: "false"}, False),
    "ts_utc_adjusted": (pa.array([1], pa.timestamp("us", "UTC")), {}, {}, True),
    "ts_naive_millis": (pa.array([1], pa.timestamp("ms")), {}, {}, True),
    "ts_naive_no_ntz": (
        pa.array([1], pa.timestamp("us")), {},
        {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"}, True,
    ),
    "int96": (pa.array([1], pa.timestamp("us")), {"use_deprecated_int96_timestamps": True}, {}, True),
    "int8": (pa.array([1], pa.int8()), {}, {}, True),
    "int16": (pa.array([1], pa.int16()), {}, {}, True),
    "uint32": (pa.array([1], pa.uint32()), {}, {}, True),
    "uint64": (pa.array([1], pa.uint64()), {}, {}, True),
    "decimal_int32": (pa.array([decimal.Decimal("1.23")], pa.decimal128(5, 2)), {}, {}, True),
    "decimal_bytes": (pa.array([decimal.Decimal("1.23")], pa.decimal128(30, 2)), {}, {}, True),
    "decimal256": (pa.array([decimal.Decimal("1.23")], pa.decimal256(50, 2)), {}, {}, False),
    "binary_as_string": (
        pa.array([b"x"]), {}, {"spark.sql.parquet.binaryAsString": "true"}, True,
    ),
    "fixed_len_binary": (pa.array([b"ab"], pa.binary(2)), {}, {}, True),
    "fixed_len_binary_as_string": (
        pa.array([b"ab"], pa.binary(2)), {}, {"spark.sql.parquet.binaryAsString": "true"}, True,
    ),
    "null": (pa.array([None], pa.null()), {}, {}, True),
    "date": (pa.array([dt.date(2020, 1, 1)], pa.date32()), {}, {}, True),
    "time": (pa.array([1], pa.time64("us")), {}, {}, False),
    "struct": (pa.array([{"a": 1, "b": "x"}], pa.struct([("a", pa.int32()), ("b", pa.string())])), {}, {}, True),
    "map": (pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int32())), {}, {}, True),
    "legacy_list": (pa.array([[1.0]], pa.list_(pa.float32())), {"use_compliant_nested_type": False}, {}, True),
    "nested": (_nested(), {}, {}, True),
}


@pytest.mark.parametrize("case", sorted(SYNTHETIC))
def test_footer_schema_matches_inference_or_falls_back(spark, conf, tmp_path, case):
    column, options, confs, mapped = SYNTHETIC[case]
    path = str(tmp_path / f"{case}.parquet")
    pq.write_table(pa.table({"id": pa.array([1], pa.int64()), "c": column}), path, **options)
    for key, value in confs.items():
        conf(key, value)
    footer = _footer_schema(spark, path)
    assert (footer is not None) == mapped
    if mapped:
        assert footer == spark.read.parquet(path).schema
        assert _jobs(spark, lambda: read_table(spark, path).schema) == (footer, [])
    else:
        with pytest.raises(Exception):
            spark.read.parquet(path).schema


def test_footer_schema_falls_back_off_single_local_files(spark, frame, tmp_path, caplog):
    directory = str(tmp_path / "dir")
    write_table(frame, directory)
    spark_file = glob.glob(f"{directory}/*.parquet")[0]  # keeps Spark's stored schema
    caplog.set_level("INFO", logger="dftly_spark.io")
    for path in (directory, spark_file, f"{directory}/*.parquet", "hdfs://nn/x.parquet"):
        assert _footer_schema(spark, path) is None
    assert len(caplog.records) == 4
    assert read_table(spark, directory).schema == frame.schema
    assert _footer_schema(spark, f"file:{SF001}/region.parquet") == spark.read.parquet(
        f"{SF001}/region.parquet"
    ).schema


def _jobs(spark, fn):
    """``(fn(), the ids of the Spark jobs it fired)``."""
    sc = spark.sparkContext
    group = f"footer-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "no job expected")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_table_scans_fire_no_job(spark):
    from dftly_spark.contract.common import _t

    def scans():
        frames = [_t(spark, SF001, Path(p).stem) for p in sorted(glob.glob(f"{SF001}/*.parquet"))]
        register_views(spark, SF001, ["region", "nation"])
        return frames

    frames, jobs = _jobs(spark, scans)
    assert len(frames) == 10 and all(f.columns for f in frames)
    assert jobs == []


def test_row_bound_fires_no_job(spark):
    """Footer rows for a parquet scan, the rows of a local relation, a sum
    over a union; no bound over an RDD leaf, a checkpoint or a join."""
    emb = read_table(spark, f"{SF001}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = emb.where(F.col("vec_id") % 8 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    local = spark.createDataFrame(pa.table({"id": pa.array([1, 2, 3], pa.int64())}))
    frames = [
        emb.unionByName(copies),  # x46's augmented corpus: 500 + 500 footer rows
        local,
        local.groupBy("id").count(),
        spark.createDataFrame([(1,), (2,)], "id long"),  # parallelized: an RDD leaf
        local.localCheckpoint(eager=False),
        local.join(local, "id"),
    ]
    bounds, jobs = _jobs(spark, lambda: [_row_bound(f) for f in frames])
    assert bounds == [1000, 3, 3, None, None, None]
    assert jobs == []
