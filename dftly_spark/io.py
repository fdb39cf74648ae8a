"""Batch table I/O: schema-explicit readers and writers.

The reference engine's I/O surface is its host dataframe library's (configs
are YAML; tables arrive as in-memory frames).  On Spark the equivalent
surface is the DataFrameReader/Writer — these helpers pin the pipeline
defaults so every entry point behaves the same way:

* parquet is the canonical interchange format (typed, splittable,
  column-pruned and predicate-pushed at the scan);
* ``jsonl`` (newline-delimited JSON) round-trips nested types; schemas
  should still be passed explicitly on read — schema inference is a full
  extra pass over 100 TB;
* csv is header-ful and requires an explicit schema on read (inference is
  both a full pass AND lossy — everything nullable-string without it);
* orc is the second columnar format (built into Spark, same pushdown and
  pruning machinery as parquet) for warehouses already standardized on it;
* ``text`` reads/writes raw line-per-row files as a single ``value``
  string column — the raw-corpus ingestion format (wrap with a
  ``line_filter``/``select`` step immediately after).

``FAILFAST`` is the default read mode: silently null-ing malformed rows
(Spark's default PERMISSIVE) is the wrong default for training-data
pipelines, where a bad decode should stop the job, not poison the corpus.
Pass ``mode="PERMISSIVE"`` explicitly to opt in to salvage semantics.

A parquet read with no schema takes it from the file's footer
(:func:`_footer_schema`), so building a query over a table fires no Spark
job; Spark's own inference runs a job per read.
"""

from __future__ import annotations

import json
import logging
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_FORMATS = ("parquet", "csv", "jsonl", "orc", "text")

#: the footer key under which Spark stores the schema of a file it wrote
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark would infer for one local parquet file, read from
    its footer with pyarrow in place of an inference job.

    Leaf types come from the Parquet physical and logical types, mapped
    the way Spark's ``ParquetToSparkSchemaConverter`` maps them under the
    session confs it reads (``nanosAsLong``, ``inferTimestampNTZ``,
    ``binaryAsString``, ``int96AsTimestamp``); the Arrow schema gives only
    the nesting.  Every field is nullable, as Spark makes an inferred file
    schema.  Returns ``None`` for anything else (a directory, a glob or a
    non-local path, a file Spark wrote, a type this mapping does not know,
    an unreadable footer), after one log line: the caller then lets Spark
    infer.
    """
    try:
        return _spark_schema(spark, _local_file(spark, path))
    except _NotLocal as ex:
        why = str(ex)
    except Exception as ex:  # noqa: BLE001 — an unmapped type or an unreadable footer
        why = f"{type(ex).__name__}: {ex}"
    logging.getLogger(__name__).info("%s: schema inferred by Spark (%s)", path, why)
    return None


class _NotLocal(ValueError):
    """A path that is not one local file whose footer pyarrow may read."""


def _local_file(spark: SparkSession, path: str) -> str:
    """``path`` (bare or a ``file:`` URI) as the name of one local file;
    raises :class:`_NotLocal` naming why it is not one."""
    local = os.path.normpath(path.removeprefix("file:"))
    if not (os.path.isabs(local) and os.path.isfile(local)):
        raise _NotLocal("not one local file")
    if any(c in local for c in "*?[{") or os.path.basename(local)[:1] in "._":
        raise _NotLocal("a glob or hidden file name")
    if not path.startswith("file:") and not _default_fs_is_local(spark):
        raise _NotLocal("the default file system is not local")
    return local


#: logical plan nodes that never output more rows than their children hold
_ROW_KEEPING = frozenset({
    "Project", "Filter", "Sort", "GlobalLimit", "LocalLimit", "Window", "Deduplicate",
    "Repartition", "RepartitionByExpression", "RebalancePartitions", "SubqueryAlias",
    "ResolvedHint", "Union", "Aggregate",
})


def _row_bound(df: DataFrame) -> int | None:
    """An upper bound on ``df``'s rows that costs no Spark job, or ``None``
    where its plan gives none.

    Walks the optimized logical plan.  A scan over local parquet files
    counts the rows their footers hold (the :func:`_footer_schema` rules
    for a local file), a ``LocalRelation`` its rows, and a union or any
    node of :data:`_ROW_KEEPING` the sum of its children (at least 1 for
    an aggregate, which outputs one row over none).  Any other node gives
    ``None``: a join, generate or expand, which can add rows, and any other
    leaf (a checkpointed or RDD frame, a non-local or non-parquet scan).
    Filters are not applied, so this is a bound, not a count; nothing is
    cached across calls."""
    import pyarrow.parquet as pq

    spark = df.sparkSession

    def bound(node) -> int | None:
        name = node.nodeName()
        if name == "LocalRelation":
            return node.data().size()
        if name == "LogicalRelation":
            rel = node.relation()
            if rel.getClass().getSimpleName() != "HadoopFsRelation" or (
                rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
            ):
                return None
            try:
                return sum(
                    pq.read_metadata(_local_file(spark, f)).num_rows
                    for f in rel.location().inputFiles()
                )
            except (OSError, ValueError):  # a non-local file or an unreadable footer
                return None
        if name not in _ROW_KEEPING:
            return None
        kids = node.children()
        total = 0
        for i in range(kids.size()):
            rows = bound(kids.apply(i))
            if rows is None:
                return None
            total += rows
        return max(total, 1) if name == "Aggregate" else total

    return bound(df._jdf.queryExecution().optimizedPlan())


def _default_fs_is_local(spark: SparkSession) -> bool:
    fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    return fs is None or fs.startswith("file:")


def _spark_schema(spark: SparkSession, path: str) -> T.StructType:
    """:func:`_footer_schema` of a local file; raises where it has none."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    if _SPARK_ROW_METADATA in (meta.metadata or {}):
        raise ValueError("written by Spark, which reads its stored schema")
    pschema = meta.schema
    leaves = iter(pschema.column(i) for i in range(len(pschema)))
    confs: dict[str, bool] = {}

    def conf(key: str) -> bool:
        if key not in confs:
            confs[key] = spark.conf.get(key).lower() == "true"
        return confs[key]

    def convert(t: pa.DataType, depth: int) -> T.DataType:
        if pa.types.is_struct(t):
            return T.StructType([T.StructField(f.name, convert(f.type, depth)) for f in t])
        if pa.types.is_map(t):
            return T.MapType(convert(t.key_type, depth + 1), convert(t.item_type, depth + 1))
        if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
            return T.ArrayType(convert(t.value_type, depth + 1))
        leaf = next(leaves)
        spark_type = _leaf_type(leaf, conf) if leaf.max_repetition_level == depth else None
        if spark_type is None:
            raise ValueError(f"no mapping for {leaf.path}: {leaf.physical_type} {leaf.logical_type}")
        return spark_type

    schema = T.StructType([T.StructField(f.name, convert(f.type, 0)) for f in pschema.to_arrow_schema()])
    if next(leaves, None) is not None:
        raise ValueError("the Arrow schema leaves Parquet columns out")
    return schema


def _leaf_type(col, conf) -> T.DataType | None:
    """One Parquet leaf column as Spark reads it, or ``None`` where this
    mapping does not know the type (Spark's own answer may be an error)."""
    phys = col.physical_type
    ann = json.loads(col.logical_type.to_json())
    kind = ann["Type"]
    if kind == "Decimal":
        max_digits = {"INT32": 9, "INT64": 18, "BYTE_ARRAY": 38}.get(phys)
        if phys == "FIXED_LEN_BYTE_ARRAY":  # Spark's Decimal.maxPrecisionForBytes
            max_digits = min(38, math.floor(math.log10(2 ** (8 * col.length - 1) - 1)))
        if max_digits and 0 < col.precision <= max_digits:
            return T.DecimalType(col.precision, col.scale)
        return None
    if phys == "BOOLEAN" and kind == "None":
        return T.BooleanType()
    if phys == "FLOAT" and kind == "None":
        return T.FloatType()
    if phys == "DOUBLE" and kind == "None":
        return T.DoubleType()
    if phys == "INT32":
        if kind in ("None", "Null"):
            return T.IntegerType()
        if kind == "Date":
            return T.DateType()
        if kind == "Int":
            signed = {8: T.ByteType, 16: T.ShortType, 32: T.IntegerType}
            unsigned = {8: T.ShortType, 16: T.IntegerType, 32: T.LongType}
            cls = (signed if ann["isSigned"] else unsigned).get(ann["bitWidth"])
            return cls() if cls else None
        return None
    if phys == "INT64":
        if kind == "None" or (kind == "Int" and ann["bitWidth"] == 64 and ann["isSigned"]):
            return T.LongType()
        if kind == "Int" and ann["bitWidth"] == 64:
            return T.DecimalType(20, 0)
        if kind == "Timestamp":
            if ann["timeUnit"] == "nanoseconds":
                return T.LongType() if conf("spark.sql.legacy.parquet.nanosAsLong") else None
            if ann["isAdjustedToUTC"] or not conf("spark.sql.parquet.inferTimestampNTZ.enabled"):
                return T.TimestampType()
            return T.TimestampNTZType()
        return None
    if phys == "INT96" and kind == "None":
        return T.TimestampType() if conf("spark.sql.parquet.int96AsTimestamp") else None
    if phys == "BYTE_ARRAY":
        if kind in ("String", "Enum", "JSON"):
            return T.StringType()
        if kind == "None":
            return T.StringType() if conf("spark.sql.parquet.binaryAsString") else T.BinaryType()
        if kind == "BSON":
            return T.BinaryType()
    if phys == "FIXED_LEN_BYTE_ARRAY" and kind == "None":
        return T.BinaryType()
    return None


def read_table(
    spark: SparkSession,
    path: str,
    *,
    format: str = "parquet",
    schema: str | None = None,
    **options,
) -> DataFrame:
    """Read a table; ``schema`` is a DDL string (required for csv/jsonl
    unless ``infer=True`` was deliberately chosen via options).  A parquet
    read with no ``schema`` takes the file's footer schema, or lets Spark
    infer where :func:`_footer_schema` cannot tell."""
    if format not in _FORMATS:
        raise ValueError(f"format must be one of {_FORMATS}, got {format!r}")
    reader = spark.read
    if format == "csv":
        opts = {"header": "true", "mode": "FAILFAST", **options}
        reader = reader.options(**opts)
        if schema is None and opts.get("inferSchema") != "true":
            raise ValueError(
                "csv reads need an explicit DDL schema (or inferSchema='true', "
                "which costs a full extra pass and types everything it can't "
                "parse as string)"
            )
    elif format == "jsonl":
        reader = reader.options(**{"mode": "FAILFAST", **options})
    elif format == "text":
        if schema is not None:
            raise ValueError(
                "text sources are always a single `value` string column — "
                "a schema cannot be applied (project/parse in a later step)"
            )
        reader = reader.options(**options)
    else:
        reader = reader.options(**options)
    if schema is None and format == "parquet":
        schema = _footer_schema(spark, path)
    if schema is not None:
        reader = reader.schema(schema)
    fmt = "json" if format == "jsonl" else format
    return reader.format(fmt).load(path)


def write_table(
    df: DataFrame,
    path: str,
    *,
    format: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    if format not in _FORMATS:
        raise ValueError(f"format must be one of {_FORMATS}, got {format!r}")
    if format == "text" and [f.name for f in df.schema.fields] != ["value"]:
        raise ValueError(
            "text sinks take exactly one string column named 'value'; "
            f"got {df.columns} (select/alias it first)"
        )
    writer = df.write.mode(mode)
    if format == "csv":
        writer = writer.options(**{"header": "true", **options})
    else:
        writer = writer.options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    fmt = "json" if format == "jsonl" else format
    writer.format(fmt).save(path)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to ``TimestampType`` (session-tz, µs).

    The synthetic ``events`` table has shipped with two physical layouts:
    parquet TIMESTAMP(NANOS) — which Spark can only read as a raw ``bigint``
    of nanoseconds (``spark.sql.legacy.parquet.nanosAsLong``) — and parquet
    TIMESTAMP(MICROS), which reads as ``timestamp_ntz``.  Downstream code
    (windows, watermarks, as-of joins) assumes one type; this converts
    either layout to plain ``timestamp``, exact in both directions (ns → µs
    is integer division; ntz → tz is an identity under the pipeline's UTC
    session zone).
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get(col)
    if dt == "bigint":  # nanos-as-long legacy layout
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str]) -> None:
    """Expose parquet tables as temp views so ``spark.sql`` queries run
    against them by bare name (the oracle-side setup, Spark-side)."""
    for t in tables:
        read_table(spark, f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
