"""Self-tests of the benchmark's own machinery.

Run from the repository root::

    python3 -m pytest perfbench/test_selftest.py -q

The oracle test pins the trap behind a wrong ``outputs_incorrect``: callable
oracles fit their literals to ``SPARK_GRAFT_GATE_SF_DIR``, so outputs must
be compared with oracles resolved against the very directory the queries
read.  x56 and x160 pass against their own data and fail against another
seed's data.
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
from spans import Tracer  # noqa: E402

TRAP_QUERIES = ["x56_ivf_kmeans_topk", "x160_cluster_balanced"]


@pytest.fixture(scope="module")
def dirs():
    base = os.path.join(os.getcwd(), ".perfbench_work", f"selftest-{os.getpid()}")
    out = {seed: datagen.write(seed, 0.001, os.path.join(base, f"s{seed}")) for seed in (1, 2)}
    yield out
    shutil.rmtree(base, ignore_errors=True)


def test_datagen_is_a_function_of_the_seed():
    a, b, c = datagen.tables(5, 0.001), datagen.tables(5, 0.001), datagen.tables(6, 0.001)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000


def test_oracles_export_the_data_dir_before_resolving(dirs, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_GATE_SF_DIR", raising=False)
    first = check.oracles(dirs[1])
    assert os.environ["SPARK_GRAFT_GATE_SF_DIR"] == dirs[1]
    second = check.oracles(dirs[2])
    for q in TRAP_QUERIES:
        assert first[q] != second[q], f"{q}'s oracle no longer depends on the data dir"


def test_trap_queries_pass_only_against_their_own_data(dirs, monkeypatch):
    from pyspark.sql import SparkSession

    import __spark_entry__

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    out = os.path.join(os.path.dirname(dirs[1]), "out")
    outputs = []
    for q in TRAP_QUERIES:
        path = os.path.join(out, q)
        __spark_entry__.queries()[q](spark, dirs[1]).write.mode("overwrite").parquet(path)
        outputs.append({"name": q, "path": path})
    assert all(pq.read_table(o["path"]).num_rows > 0 for o in outputs)

    own = check.check_all(outputs, dirs[1])
    assert own == {q: None for q in TRAP_QUERIES}

    con = check._connect(dirs[1])
    wrong = check.oracles(dirs[2])
    for o in outputs:
        got = pq.read_table(o["path"]).to_pandas()
        assert check.check_oracle(got, wrong[o["name"]], con) is not None


def test_self_time_subtracts_child_spans():
    tr = Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            tr.py4j_calls += 3
        tr.py4j_calls += 2
    assert outer.calls == 5 and outer.self_calls == 2 and inner.self_calls == 3
    assert abs(outer.self_s - (outer.end - outer.start - (inner.end - inner.start))) < 1e-9
    assert tr.self_s("outer") + tr.self_s("inner") == pytest.approx(outer.end - outer.start)
