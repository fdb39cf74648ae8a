"""Output checks, run in the parent process after the measured one has ended.

Contract queries are compared with their DuckDB oracles the way
``scripts/driver_gate.py`` compares them: both sides go through pandas,
columns and rows are sorted, floats rounded to 9 digits, dates normalized,
array cells turned into strings, and then row count, column names and the
value hash must all agree.

The oracle API takes no data directory.  Callable oracles (x56's fitted
centroids, x160's cluster caps, ...) and every spec oracle's column types
are resolved from ``SPARK_GRAFT_GATE_SF_DIR``, which otherwise points at a
default dataset.  ``oracles()`` therefore exports it to the directory the
queries ran on *before* calling ``oracle_sql()``.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import datagen


def oracles(data_dir: str) -> dict[str, str]:
    """``oracle_sql()`` resolved against ``data_dir``."""
    os.environ["SPARK_GRAFT_GATE_SF_DIR"] = data_dir
    import __spark_entry__

    return __spark_entry__.oracle_sql()


def _cell_str(v) -> str:
    if isinstance(v, np.ndarray):
        v = v.tolist()
    return str(v)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.isna().all():
            df[c] = pd.Series([""] * len(df), dtype=object)
        elif isinstance(col.dtype, pd.DatetimeTZDtype):
            df[c] = col.dt.tz_convert("UTC").dt.tz_localize(None).astype("datetime64[us]")
        elif col.dtype == object:
            sample = col.dropna()
            if len(sample) and isinstance(sample.iloc[0], (dt.date, dt.datetime)):
                df[c] = pd.to_datetime(col).astype("datetime64[us]")
            else:
                df[c] = col.map(_cell_str)
        elif col.dtype.kind == "f":
            df[c] = col.round(9)
        elif col.dtype.kind == "M":
            df[c] = col.astype("datetime64[us]")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def check_oracle(got: pd.DataFrame, sql: str | None, con) -> str | None:
    """None when a query's output matches its oracle, else the reason."""
    if sql is None:
        return "no oracle"
    s = canon(got)
    o = canon(con.execute(sql).df())
    if len(s) != len(o):
        return f"rows {len(s)} != {len(o)}"
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != {list(o.columns)}"
    hs = int(pd.util.hash_pandas_object(s, index=False).sum())
    ho = int(pd.util.hash_pandas_object(o, index=False).sum())
    return None if hs == ho else "value hash differs"


def check_all(outputs: list[dict], data_dir: str) -> dict[str, str | None]:
    """Every query's verdict: None for correct, else why it failed."""
    con = _connect(data_dir)
    sqls = oracles(data_dir)
    verdict: dict[str, str | None] = {}
    for entry in outputs:
        name = entry["name"]
        try:
            if "error" in entry:
                raise RuntimeError(entry["error"])
            got = pq.read_table(entry["path"]).to_pandas()
            verdict[name] = check_oracle(got, sqls.get(name), con)
        except Exception as ex:  # noqa: BLE001 — a check that cannot run fails its query
            verdict[name] = f"{type(ex).__name__}: {ex}"
    return verdict
