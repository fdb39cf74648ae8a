"""Declarative YAML pipelines: source → steps → sink, one lazy Spark plan.

The reference engine's whole identity is "dataframe transformations from
YAML" (reference ``README.md:33-35``): a YAML mapping compiles to engine
expressions the caller applies to one frame.  This module extends that idea
from *one projection* to *one pipeline* — the corpus-preparation flows the
``ops`` package implements (quality filter → dedup → cap → sample → write),
declared as data:

.. code-block:: yaml

    source: {table: documents}
    steps:
      - with_columns:
          n_tokens: "$n_chars / 6"
      - filter: "($n_chars >= 64) and ($n_chars <= 100000)"
      - op: exact_dedup
        args: {text_col: text, id_col: doc_id}
        join_back: {key: doc_id, how: left_semi}
      - op: cap_per_group
        args: {group_col: source, k: 100, order_col: doc_id}
      - select:
          doc_id: "$doc_id"
          n_tokens: "$n_tokens::int"
    sink: {path: /out/corpus, format: parquet, partition_by: [lang]}

Execution model: every step is a DataFrame → DataFrame transformation, so
the pipeline builds ONE lazy plan — Catalyst fuses the row-local steps
(``select`` / ``with_columns`` / ``filter`` compile through the dftly
expression layer into native codegen'd columns, filters push into the
scan) and the only shuffles are the ones the invoked ops require.  Nothing
materializes until the sink (or the caller's action).

Step forms:

* ``{select: SPEC}`` / ``{with_columns: SPEC}`` — a dftly transformation
  spec (string/dict forms, full expression grammar).
* ``{filter: "expr"}`` — a dftly boolean expression.
* ``{sql: "SELECT … FROM {t} …"}`` — raw Spark SQL over the current
  frame (``{t}`` is the step's temp view).  The escape hatch for
  aggregations/joins the step grammar doesn't spell; still one lazy
  plan — the SQL composes into the same Catalyst tree, so pushdown and
  fusion cross the boundary in both directions.
* ``{op: name, args: {...}}`` — any allowlisted ``dftly_spark.ops``
  function; the current frame is passed as the first argument.  An
  optional ``where: "expr"`` filters the op's OUTPUT with a dftly
  expression (e.g. ``where: "$keep"`` on a verdict op), and ops that
  return a *reduced* frame (dedup survivors, pair lists, verdicts) can
  rejoin it to the current frame with ``join_back: {key: COL, how:
  left_semi|left_anti|inner|left}`` — the declarative spelling of the
  survivors-semi-join pattern (``key`` not ``on``: bare ``on`` is a YAML
  1.1 boolean).  ``how`` defaults to ``left_semi``.

Sources/sinks delegate to :mod:`dftly_spark.io` (schema-explicit,
FAILFAST); ``{table: name}`` resolves ``<sf_dir>/<name>.parquet`` against
the ``sf_dir`` argument, the driver-testdata layout.

Streaming: ``source: {table: events, stream: true}`` reads the same table
as an unbounded stream (:func:`dftly_spark.streaming.stream_table`).  The
expression steps are stateless row transforms, so they are stream-legal
as-is; ``op`` steps are restricted to the row-local allowlist
(``_STREAM_SAFE_OPS``) — stateful operators (dedup joins, sessionization)
have dedicated streaming twins in :mod:`dftly_spark.streaming` and
``ops.sessions`` that need watermark policy a one-line YAML step cannot
express responsibly.  The caller owns the ``writeStream`` (trigger,
checkpoint, and output mode are deployment decisions).
"""

from __future__ import annotations

import inspect
import itertools
import weakref
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from . import ops as _ops
from .io import normalize_event_ts, read_table, write_table
from .parser import Parser, _load_yaml

# Every public ops function whose FIRST AND ONLY required DataFrame
# parameter is the leading one is runnable as a pipeline step; anything
# else must be composed in code:
# * non-frame returns (a fitted codebook tuple) — _NON_FRAME_OPS;
# * ops needing a SECOND frame (joins, diffs, top-k with a query set) —
#   detected from the signature, so a YAML step naming one gets the
#   clean "unknown op" error instead of a TypeError at apply time.
_NON_FRAME_OPS = {"fit_scalar_quantizer", "schema_drift"}


def _is_frame_param(p) -> bool:
    return p.annotation in ("DataFrame", DataFrame) or p.name in (
        "df", "left", "right", "old", "new", "edges", "pairs",
    )


_OP_REGISTRY: dict[str, Any] = {}
for _name in _ops.__all__:
    if _name in _NON_FRAME_OPS:
        continue
    _fn = getattr(_ops, _name)
    if callable(_fn):
        try:
            _params = list(inspect.signature(_fn).parameters.values())
        except (TypeError, ValueError):  # pragma: no cover - builtins
            continue
        if not _params or not (
            _params[0].annotation in ("DataFrame", DataFrame)
            or _params[0].name == "df"
        ):
            continue
        # a second required frame parameter disqualifies the op for YAML
        later_frames = [
            p for p in _params[1:]
            if p.default is inspect.Parameter.empty
            and p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
            and _is_frame_param(p)
        ]
        if later_frames:
            continue
        _OP_REGISTRY[_name] = _fn


def _as_mapping(spec: str | Path | dict) -> dict:
    if isinstance(spec, dict):
        return spec
    if isinstance(spec, Path):
        return _load_yaml(spec.read_text())
    if isinstance(spec, str):
        return _load_yaml(spec)
    raise TypeError(f"pipeline spec must be a dict, YAML string, or Path; got {type(spec)}")


# Row-local ops (pure projections) that are legal on unbounded streams.
_STREAM_SAFE_OPS = ("gopher_rules", "line_filter", "melt")

# monotonic suffix for sql-step temp views: unique across concurrent
# pipeline runs sharing one SparkSession
_SQL_VIEW_COUNTER = itertools.count()

# Temp views the sql step had to leave registered (Spark Connect defers
# analysis, so the view must outlive the returned frame).  Keyed PER
# SparkSession (weakly — a dropped session reclaims its entry and its
# views die with the session server-side) so that two concurrent Connect
# sessions never drain each other's names: dropTempView in session A
# cannot see B's views, and a shared list would pop B's names and leak
# them forever.  A long-lived Connect session running many sql steps can
# call drop_sql_views(session) once the frames built on them have been
# collected.
_PENDING_SQL_VIEWS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _pending_views(spark) -> list:
    """The caller's own pending-view list (created on first use)."""
    views = _PENDING_SQL_VIEWS.get(spark)
    if views is None:
        views = _PENDING_SQL_VIEWS[spark] = []
    return views


def drop_sql_views(spark) -> int:
    """Drop the temp views sql steps left behind on Spark Connect.

    Only safe once every DataFrame returned by those sql steps has been
    fully consumed (Connect re-resolves the plan on each action, so a
    live frame still needs its view).  Drains only the CALLER's entries
    (the registry is per-session).  Returns the number dropped.  Classic
    Spark never accumulates views, so this is a no-op there.
    """
    dropped = 0
    views = _PENDING_SQL_VIEWS.pop(spark, [])
    while views:
        name = views.pop()
        try:
            # returns False (no raise) when the view is already gone
            if spark.catalog.dropTempView(name) is not False:
                dropped += 1
        except Exception:
            pass  # already gone (session restart) — keep draining
    return dropped


def _read_source(spark: SparkSession, src: dict, sf_dir: str | None) -> DataFrame:
    if not isinstance(src, dict):
        raise ValueError(f"source must be a mapping, got {type(src)}")
    if "table" in src:
        if sf_dir is None:
            raise ValueError("source.table needs the sf_dir argument")
        if src.get("stream"):
            from .streaming import stream_table

            return stream_table(spark, sf_dir, src["table"])
        df = read_table(spark, f"{sf_dir}/{src['table']}.parquet")
        if src["table"] == "events":
            df = normalize_event_ts(df)
        return df
    if "path" in src:
        return read_table(
            spark,
            src["path"],
            format=src.get("format", "parquet"),
            schema=src.get("schema"),
            **src.get("options", {}),
        )
    raise ValueError(f"source needs 'table' or 'path'; got keys {sorted(src)}")


def _apply_step(
    df: DataFrame, step: dict, idx: int, options: dict | None = None
) -> DataFrame:
    u64 = bool((options or {}).get("uint64_decimal", False))
    if not isinstance(step, dict):
        raise ValueError(f"step {idx}: must be a mapping, got {type(step)}")
    kind = [k for k in ("select", "with_columns", "filter", "op", "sql") if k in step]
    if len(kind) != 1:
        raise ValueError(
            f"step {idx}: exactly one of select/with_columns/filter/op/sql, "
            f"got {sorted(step)}"
        )
    k = kind[0]
    if k == "sql":
        # Raw-SQL escape hatch: the incoming frame is visible as `t`.
        # Still ONE lazy plan — spark.sql over a temp view composes into
        # the same Catalyst tree the dftly steps build, so pushdown and
        # fusion cross the boundary in both directions.  The view name is
        # unique per invocation (concurrent pipelines in one session must
        # not clobber each other).  Classic Spark analyzes spark.sql()
        # eagerly, so the view can be dropped as soon as the frame comes
        # back; Spark Connect defers analysis to execution AND re-resolves
        # the plan on every action, so the view must OUTLIVE the returned
        # frame there — leave the uniquely-named view registered (session
        # temp views are metadata-only; they die with the session).
        view = f"_dftly_step_{idx}_{next(_SQL_VIEW_COUNTER)}"
        df.createOrReplaceTempView(view)
        if type(df).__module__.startswith("pyspark.sql.connect"):
            out = df.sparkSession.sql(step["sql"].replace("{t}", view))
            # reclaim via drop_sql_views(session) — per-session registry
            _pending_views(df.sparkSession).append(view)
            return out
        # classic path: analysis is eager, so the view is droppable the
        # moment spark.sql returns — and must be dropped even when the
        # SQL fails analysis (finally), or each failed retry leaks one
        try:
            # plain substring replace, NOT str.format — format would
            # choke on every literal brace in real SQL (regex
            # quantifiers, map literals)
            return df.sparkSession.sql(step["sql"].replace("{t}", view))
        finally:
            df.sparkSession.catalog.dropTempView(view)
    if k == "select":
        return Parser.select(df, step["select"], uint64_decimal=u64)
    if k == "with_columns":
        return Parser.with_columns(df, step["with_columns"], uint64_decimal=u64)
    if k == "filter":
        return df.where(
            Parser.expr_to_spark(step["filter"], schema=df, uint64_decimal=u64)
        )
    name = step["op"]
    fn = _OP_REGISTRY.get(name)
    if fn is None:
        raise ValueError(
            f"step {idx}: unknown op {name!r} (available: {sorted(_OP_REGISTRY)})"
        )
    if df.isStreaming and name not in _STREAM_SAFE_OPS:
        raise ValueError(
            f"step {idx}: op {name!r} is not stream-safe (row-local ops only: "
            f"{_STREAM_SAFE_OPS}; stateful streaming twins live in "
            "dftly_spark.streaming / ops.sessions)"
        )
    out = fn(df, **step.get("args", {}))
    if "where" in step:  # dftly filter over the OP'S output (e.g. "$keep")
        out = out.where(
            Parser.expr_to_spark(step["where"], schema=out, uint64_decimal=u64)
        )
    jb = step.get("join_back")
    if jb:
        if "key" not in jb:
            raise ValueError(
                f"step {idx}: join_back needs 'key' (note: a bare 'on' is a "
                "YAML 1.1 boolean — the key is deliberately named 'key')"
            )
        on = jb["key"]
        keys = [on] if isinstance(on, str) else list(on)
        how = jb.get("how", "left_semi")
        if how not in ("left_semi", "left_anti", "inner", "left"):
            raise ValueError(f"step {idx}: unsupported join_back.how {how!r}")
        return df.join(out.select(*keys).distinct(), keys, how)
    return out


def run_pipeline(
    spark: SparkSession,
    spec: str | Path | dict,
    *,
    sf_dir: str | None = None,
) -> DataFrame:
    """Build (and, if a sink is declared, write) the pipeline's frame.

    Always returns the final DataFrame — with a ``sink`` the write happens
    first (the one action); without one the caller owns the action, so a
    pipeline can feed another pipeline or a test assertion lazily.
    """
    m = _as_mapping(spec)
    unknown = set(m) - {"source", "steps", "sink", "options"}
    if unknown:
        raise ValueError(f"unknown pipeline keys {sorted(unknown)}")
    if "source" not in m:
        raise ValueError("pipeline needs a source")
    opts = m.get("options") or {}
    if not isinstance(opts, dict):
        raise ValueError(f"pipeline options must be a mapping, got {type(opts)}")
    unknown_opts = set(opts) - {"uint64_decimal"}
    if unknown_opts:
        raise ValueError(f"unknown pipeline options {sorted(unknown_opts)}")
    df = _read_source(spark, m["source"], sf_dir)
    for i, step in enumerate(m.get("steps", [])):
        df = _apply_step(df, step, i, opts)
    sink = m.get("sink")
    if sink:
        if df.isStreaming:
            raise ValueError(
                "streaming pipelines return the frame for the caller's "
                "writeStream (trigger/checkpoint/output-mode are deployment "
                "decisions); remove the sink from the spec"
            )
        write_table(
            df,
            sink["path"],
            format=sink.get("format", "parquet"),
            mode=sink.get("mode", "overwrite"),
            partition_by=sink.get("partition_by"),
            **sink.get("options", {}),
        )
    return df


def main(argv: list[str] | None = None) -> None:
    """``python -m dftly_spark.pipeline SPEC.yaml [--sf-dir DIR] [--show N]``

    Runs a pipeline file; with no sink in the spec, prints the first
    ``--show`` rows (default 20) instead of writing.
    """
    import argparse

    ap = argparse.ArgumentParser(description="Run a dftly-spark YAML pipeline")
    ap.add_argument("spec", help="pipeline YAML file")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--show", type=int, default=20)
    ap.add_argument("--cpus", default="8")
    args = ap.parse_args(argv)

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("dftly-spark-pipeline")
        .config("spark.sql.shuffle.partitions", args.cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    m = _as_mapping(Path(args.spec))
    df = run_pipeline(spark, m, sf_dir=args.sf_dir)
    if "sink" not in m:
        df.show(args.show, truncate=60)
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
