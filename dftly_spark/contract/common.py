"""Shared fixtures and the query registry for the driver contract.

The contract surface (queries()/oracle_sql()/entry()/warm_caches())
lives in __init__.py; every wave module registers through _q here.
Split out of __spark_entry__.py (round 13).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dftly_spark import Parser
from dftly_spark.io import normalize_event_ts, read_table
from dftly_spark.sqlgen import exact_sum, portable_round


def _prep(spark: SparkSession) -> None:
    # Naive timestamps everywhere; comparisons against DuckDB assume UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.timeParserPolicy", "CORRECTED")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _t(
    spark: SparkSession, sf_dir: str, name: str, *, fan_out: bool = False
) -> DataFrame:
    df = read_table(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        # events.ts has shipped as both TIMESTAMP(NANOS) (readable only as
        # nanos-long, legacy conf set in _prep) and TIMESTAMP(MICROS)
        # (reads as timestamp_ntz); normalize either to plain timestamp.
        df = normalize_event_ts(df)
    if fan_out:
        df = _fan_out_scan(df, name)
    return df


#: Hash key of each table a builder fans out (``_t(..., fan_out=True)``).
_FANOUT_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "documents": "doc_id",
    "events": "event_id",
    "embeddings": "vec_id",
}


def _fan_out_scan(df: DataFrame, name: str) -> DataFrame:
    """Hash-repartition an under-split scan to ``defaultParallelism``.

    A parquet file with one row group reads as one split, so every
    expression evaluated in the scan stage runs on one core however many
    the session has.  A repartition on the table key right after the read
    moves that work above an exchange of the raw bytes and onto every core.
    It pays only where the per-row work is heavy (parsing, tokenizing,
    shingling): in an interleaved A/B at sf0.1 on 4 cores the builders
    that ask for it ran 1.2-2x faster with it (q15 1.09 s against 2.15 s,
    x147 2.41 s against 4.65 s).  On scan-light plans the extra exchange
    is a net cost, so a builder opts in per scan.  A scan that already
    has at least ``defaultParallelism`` splits is returned untouched.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, F.col(_FANOUT_KEYS[name]))


_TOK = "__tokens"


def _docs_tok(
    spark: SparkSession, sf_dir: str, *, fan_out: bool = False
) -> DataFrame:
    """Documents table + the canonical token-array column (`__tokens`).

    The text-op queries (x02/x03/x14/x15/x24/x31/x32/x35/x37/x45/x52/x54/…)
    pass ``tokens_col=_TOK`` so every op reading the frame within one plan
    shares this single tokenization.  Oracles are unchanged: the arrays are
    byte-identical to each op's own tokenization.
    """
    from dftly_spark.ops import tokenized_docs

    return tokenized_docs(_t(spark, sf_dir, "documents", fan_out=fan_out))


def _spec_query(table: str, spec: dict[str, str], *, fan_out: bool = False):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _prep(spark)
        return Parser.select(_t(spark, sf_dir, table, fan_out=fan_out), spec)

    return run



def _pq_schema(table: str) -> dict[str, str]:
    """dftly dtype tags for a testdata table, read from the parquet footer
    (no Spark session needed — oracle callables resolve driver-side).

    The oracle API carries no sf_dir, so the dataset is resolved from the
    gate env var, falling back to the bench-wide one, then the driver's
    sf0.01 default.  A runner pairing queries()[name](spark, other_dir)
    with oracle_sql() must export one of these so both sides are typed
    from the SAME parquet footers (regenerated data has flipped dtypes
    between rounds before)."""
    import os
    import pyarrow.parquet as pq

    sf = os.environ.get(
        "SPARK_GRAFT_GATE_SF_DIR",
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    ar = {"int64": "int64", "int32": "int32", "double": "float64",
          "float": "float32", "string": "str", "large_string": "str",
          "bool": "bool", "date32[day]": "date"}
    out = {}
    for f in pq.read_schema(f"{sf}/{table}.parquet"):
        t = str(f.type)
        out[f.name] = "datetime" if t.startswith("timestamp") else ar.get(t, t)
    return out


def _lloyd_first_values(sf_dir: str, k: int) -> str:
    """k-means centroids of ``embeddings`` as DuckDB ``VALUES`` rows
    ``(cell, cv::DOUBLE[])``, re-fitted in pure numpy (pyarrow read, no
    ``ops`` code) on the deterministic Lloyd schedule the ``"kmeans"``
    centroid strategy runs with ``kmeans_init="first"``: lowest-id unit
    init, argmax-dot assign with first-cell tie-break, raw-vector mean
    update, empty cells keep previous, unit-normalize new means, two
    iterations.  Summation order differs from Spark's (numpy pairwise
    here; key order on the one-task fit below its row gate, partial aggs
    on the round fit above it), so centroids agree to ~1e-12 — far below
    any real assignment margin.  Shared by the x56 and x160 oracles."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = tbl["vec_id"].to_numpy()
    vecs = np.array(tbl["embedding"].to_pylist(), dtype=np.float64)
    vecs = vecs[np.argsort(ids, kind="stable")]

    def _unit(m: np.ndarray) -> np.ndarray:
        n = np.sqrt((m * m).sum(axis=-1, keepdims=True))
        return np.where(n > 0, m / np.where(n == 0, 1.0, n), m)

    cents = _unit(vecs[:k].copy())
    for _ in range(2):
        cell = (vecs @ cents.T).argmax(axis=1)  # first-wins on ties, like array_position
        new = []
        for ci in range(k):
            members = vecs[cell == ci]
            new.append(_unit(members.mean(axis=0)) if len(members) else cents[ci])
        cents = np.array(new)
    return ",\n      ".join(
        f"({i + 1}, {[float(x) for x in c]!r}::DOUBLE[])" for i, c in enumerate(cents)
    )


def _spec_oracle(table: str, spec: dict[str, str]):
    """Machine-generated DuckDB oracle for a ``_spec_query`` entry: the
    SAME spec the Spark side consumes, emitted through sqlgen — one
    definition per query, no hand-mirrored scalar anywhere (round 7;
    q23's uint-widening spec stays hand-written: DuckDB's HUGEINT
    widening diverges from the engine's documented recast)."""

    def gen() -> str:
        from dftly_spark.sqlgen import spec_to_duckdb_sql

        cols = spec_to_duckdb_sql(spec, _pq_schema(table))
        return (
            "SELECT "
            + ", ".join(f"{sql} AS {name}" for name, sql in cols.items())
            + f" FROM {table}"
        )

    return gen


# ---------------------------------------------------------------------------
# Query definitions: (spark builder, oracle SQL)
# ---------------------------------------------------------------------------

_DEFS: dict[str, tuple[Callable, str | None]] = {}


def _q(name: str, builder: Callable, oracle) -> None:
    """Register a query.  ``oracle`` is an ANSI-SQL string, a zero-arg
    callable returning one (resolved lazily at ``oracle_sql()`` time — for
    oracles whose literals depend on the gate's sf dir, like x56's fitted
    centroids), or None for rows-only checks."""
    _DEFS[name] = (builder, oracle)
