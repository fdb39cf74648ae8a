"""Lightweight logical dtype tags used to drive type-aware lowering.

The reference (dftly) never declares schemas: output dtypes are whatever the
engine infers (SURVEY.md §1.2).  Spark and Polars disagree on a handful of
semantics (string ``+``, ``pow`` output dtype, time-of-day support, ...), so we
run a tiny type-inference pass over the AST at lowering time and dispatch on
the result.  Tags are deliberately coarse — just enough to pick the right
Spark primitive (see SURVEY.md §4.3).

Type-name table mirrors /root/reference/src/dftly/nodes/types.py:7-76, with
the Spark dtype mapping from SURVEY.md §1.2 (no unsigned ints in Spark → widen
one step; ``time`` has no Spark type ≤4.0 → tagged long of microseconds since
midnight).
"""

from __future__ import annotations

import datetime as _dt

# ---------------------------------------------------------------------------
# Dtype tags.  Plain strings; helper predicates below.
# ---------------------------------------------------------------------------

BOOL = "bool"
I8, I16, I32, I64, I128 = "i8", "i16", "i32", "i64", "i128"
U8, U16, U32, U64 = "u8", "u16", "u32", "u64"
F32, F64 = "f32", "f64"
STR = "str"
DATE = "date"
DATETIME = "datetime"
TIME = "time"  # micros-since-midnight LongType, tagged (SURVEY.md §4.3 #6)
DURATION = "duration"  # DayTimeIntervalType
LIST_STR = "list_str"
NULL = "null"
UNKNOWN = "unknown"

_INTS = {I8, I16, I32, I64, I128, U8, U16, U32, U64}
_FLOATS = {F32, F64}


def is_int(t: str) -> bool:
    return t in _INTS


def is_float(t: str) -> bool:
    return t in _FLOATS


# ---------------------------------------------------------------------------
# Name → tag table (the set of nameable cast targets, types.py:7-43).
# ---------------------------------------------------------------------------

NAMED_TYPES: dict[str, str] = {
    "uint8": U8,
    "uint16": U16,
    "uint": U32,
    "uint32": U32,
    "uint64": U64,
    "int8": I8,
    "int16": I16,
    "int": I32,
    "int32": I32,
    "integer": I32,
    "int64": I64,
    "long": I64,
    "int128": I128,
    "float": F32,
    "float32": F32,
    "float64": F64,
    "double": F64,
    "bool": BOOL,
    "boolean": BOOL,
    "str": STR,
    "string": STR,
    "utf8": STR,
    "date": DATE,
    "datetime": DATETIME,
    "duration": DURATION,
    "time": TIME,
}

#: Implicit numeric→Duration unit constructors (types.py:53-64).  Months and
#: years are fixed-length approximations (30.4375 / 365.25 days of seconds) —
#: mapped to day-time interval math, never calendar intervals (SURVEY §4.3#10).
SECONDS_PER_MINUTE = 60
SECONDS_PER_HOUR = 60 * SECONDS_PER_MINUTE
SECONDS_PER_DAY = 24 * SECONDS_PER_HOUR
SECONDS_PER_YEAR = 365.25 * SECONDS_PER_DAY
SECONDS_PER_MONTH = SECONDS_PER_YEAR / 12

DURATION_UNIT_SECONDS: dict[str, float] = {
    "nanoseconds": 1e-9,
    "microseconds": 1e-6,
    "milliseconds": 1e-3,
    "seconds": 1.0,
    "minutes": float(SECONDS_PER_MINUTE),
    "hours": float(SECONDS_PER_HOUR),
    "days": float(SECONDS_PER_DAY),
    "weeks": float(7 * SECONDS_PER_DAY),
    "months": SECONDS_PER_MONTH,
    "years": SECONDS_PER_YEAR,
}

#: Implicit int→Date constructors (types.py:66-68).
DATE_UNITS = {"year"}

#: Every nameable cast target (types.py:70-76): real dtypes + implicit units.
CAST_TARGETS = set(NAMED_TYPES) | set(DURATION_UNIT_SECONDS) | DATE_UNITS

#: Range of a true unsigned 64-bit integer (reference types.py:8-12 maps
#: ``uint64`` to pl.UInt64).  Used by the opt-in strict-unsigned mode
#: (``LoweringContext(uint64_decimal=True)``) which carries uint64 as
#: ``DECIMAL(20,0)`` instead of the default caveated ``bigint``.
U64_MAX = 2**64 - 1


# ---------------------------------------------------------------------------
# Spark dtype strings for the tags (used by Cast lowering).
# ---------------------------------------------------------------------------

SPARK_TYPE: dict[str, str] = {
    BOOL: "boolean",
    I8: "tinyint",
    I16: "smallint",
    I32: "int",
    I64: "bigint",
    I128: "decimal(38,0)",
    # No unsigned ints in Spark → widen one step (SURVEY §1.2); u64 stays long
    # with a documented overflow caveat.
    U8: "smallint",
    U16: "int",
    U32: "bigint",
    U64: "bigint",
    F32: "float",
    F64: "double",
    STR: "string",
    DATE: "date",
    DATETIME: "timestamp",
    TIME: "bigint",  # tagged micros-since-midnight
    DURATION: "interval day to second",
}


def tag_of_python(value) -> str:
    """Dtype tag of a POD literal value."""
    if value is None:
        return NULL
    if isinstance(value, bool):
        return BOOL
    if isinstance(value, int):
        return I64 if (value > 2**31 - 1 or value < -(2**31)) else I32
    if isinstance(value, float):
        return F64
    if isinstance(value, str):
        return STR
    if isinstance(value, _dt.datetime):
        return DATETIME
    if isinstance(value, _dt.date):
        return DATE
    if isinstance(value, _dt.time):
        return TIME
    if isinstance(value, _dt.timedelta):
        return DURATION
    return UNKNOWN


def tag_of_spark(dt, uint64_decimal: bool = False) -> str:
    """Dtype tag for a ``pyspark.sql.types.DataType`` (schema-driven inference).

    ``uint64_decimal`` marks the session's strict-unsigned mode: only then is
    a ``decimal(20,0)`` column taken to be the uint64 carrier — in default
    mode such a column could be any external signed decimal (e.g. JDBC
    NUMBER(20)) and keeps the generic float tag.
    """
    name = dt.simpleString()
    base = {
        "boolean": BOOL,
        "tinyint": I8,
        "smallint": I16,
        "int": I32,
        "bigint": I64,
        "float": F32,
        "double": F64,
        "string": STR,
        "date": DATE,
        "timestamp": DATETIME,
        "timestamp_ntz": DATETIME,
        "array<string>": LIST_STR,
    }
    if name in base:
        return base[name]
    if name.startswith("interval"):
        return DURATION
    if name == "decimal(20,0)" and uint64_decimal:
        # The strict-unsigned uint64 carrier (see U64_MAX).  Tagging it U64
        # keeps downstream dispatch integral (str-concat vs numeric add,
        # int**int recast) for columns produced by uint64_decimal mode.
        return U64
    if name.startswith("decimal"):
        return F64
    if name.startswith("time("):
        # Spark 4.1 native TIME(n) (feature-flagged).  Tagged TIME: the
        # engine converts to its micros-since-midnight long at the input
        # boundary (nodes/base.py Column), so every accessor/@/strptime
        # path works on native TIME inputs unchanged.
        return TIME
    return UNKNOWN
