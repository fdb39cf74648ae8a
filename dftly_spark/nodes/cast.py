"""Cast node: dtype casts plus implicit duration/date unit constructors.

Reference: /root/reference/src/dftly/nodes/types.py:79-323.

Spark lowering (SURVEY.md §2 #32, §4.3 #2):

* dtype casts: non-strict (``::?``) → ``try_cast`` (null on failure, equal to
  Spark's default non-ANSI cast); strict (default) → ``try_cast`` plus a
  per-row ``raise_error`` guard that fires when a non-null input failed to
  convert.
* implicit duration units (``seconds``/``minutes``/…/``months``/``years``) →
  day-time interval built via ``make_dt_interval`` from a fixed
  seconds-per-unit factor (months/years are the reference's fixed-length
  30.4375 / 365.25-day approximations, types.py:47-64 — never calendar
  intervals).
* ``year`` → ``make_date(x, 1, 1)`` (types.py:66-68).
* ``time`` target → tagged micros-since-midnight long (SURVEY §4.3 #6).
* int→datetime/date/duration follow Polars' epoch-unit semantics
  (µs since epoch / days since epoch / µs), not Spark's seconds-based cast.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column as SparkColumn
from pyspark.sql import functions as F

from .. import dtypes as DT
from .base import LoweringContext, Node


#: Widening order for integer tags (unsigned tags sit at their Spark-widened
#: level, SURVEY §1.2).
_INT_LEVEL = {
    DT.I8: 1, DT.U8: 2, DT.I16: 2, DT.U16: 3, DT.I32: 3, DT.U32: 4, DT.I64: 4,
    DT.U64: 4, DT.I128: 6,
}


def _cast_cannot_fail(src: str, dst: str, u64_wide: bool = False) -> bool:
    """True when `cast(src as dst)` never nulls a non-null input.

    Lets strict casts skip the per-row raise_error guard — the guard roughly
    doubles the expression cost and splits codegen, so eliding it on
    infallible casts matters on wide scans.

    ``u64_wide`` marks uint64_decimal mode, where U64's physical carrier is
    DECIMAL(20,0) holding values > 2**63-1: there u64 → i64 is NARROWING
    (guarded), while in default mode both are the same bigint and the cast
    is free.  (U64 out-types are contagious through int arithmetic, so a
    derived column keeps the tag and the guard.)  The override applies to
    the SOURCE side only: a U64 *target* in that mode never reaches this
    function — ``_dtype_cast`` returns from its dedicated decimal branch
    first — and routing one here would both skip the range guard and lower
    to the wrong carrier (``SPARK_TYPE[U64]`` is bigint), so callers assert
    it instead of this table pretending to classify it.
    """
    if src == dst:
        return True
    if DT.is_int(src):
        # widening int, any float, string, bool are all total from ints
        if DT.is_int(dst):
            src_level = 5 if (src == DT.U64 and u64_wide) else _INT_LEVEL[src]
            return _INT_LEVEL[dst] >= src_level
        return DT.is_float(dst) or dst in (DT.STR, DT.BOOL)
    if DT.is_float(src):
        if dst == DT.F64 or dst == DT.STR or dst == DT.BOOL:
            return True
        return False  # float→int can overflow/NaN; f64→f32 overflows to inf? safe, but keep guarded
    if src == DT.BOOL:
        return DT.is_int(dst) or DT.is_float(dst) or dst == DT.STR
    if src == DT.DATE:
        return dst in (DT.STR, DT.DATETIME)
    if src == DT.DATETIME:
        return dst in (DT.STR, DT.DATE)
    return False


def _strict_guard(src: SparkColumn, out: SparkColumn, target: str, spark_type: str) -> SparkColumn:
    """Raise at runtime when a non-null value failed to convert (strict cast)."""
    err = F.raise_error(
        F.concat(
            F.lit(f"strict cast to {target} failed for value: "),
            F.coalesce(src.cast("string"), F.lit("null")),
        )
    ).cast(spark_type)
    return F.when(src.isNotNull() & out.isNull(), err).otherwise(out)


class Cast(Node):
    """``x::type`` / ``x as type`` / ``x::?type`` (non-strict).

    Canonical keyword form ``{source, type, strict}``; ``Cast(source, type)``
    positional form is sugar (types.py:107-109,248-264).
    """

    KEY = "cast"
    SYM = "::"
    ALLOW_KW = True
    REQUIRED_KW = frozenset({"source", "type"})
    OPTIONAL_KW = frozenset({"strict"})

    def _normalize(self) -> None:
        if self.args:
            if self.kwargs:
                raise ValueError(
                    f"{self.KEY} cannot mix positional and keyword arguments; got positional "
                    f"args with {set(self.kwargs)}"
                )
            if len(self.args) != 2:
                raise ValueError(
                    f"{self.KEY} requires exactly two positional arguments (source, type); "
                    f"got {len(self.args)}"
                )
            source, target = self.args
            self.args = ()
            self.kwargs = {"source": source, "type": target}

    def _validate(self) -> None:
        super()._validate()
        if self.target not in DT.CAST_TARGETS:
            raise ValueError(f"Unsupported type: {self.target}")
        if not self.strict and not self._is_dtype_cast:
            raise ValueError(
                f"Non-strict casting is not supported for unit {self.target!r}; `strict` "
                "applies only to dtype casts. This unit builds a value rather than "
                "converting one, so there is no failure mode to relax."
            )

    # -- config properties -------------------------------------------------

    @property
    def source(self) -> Node:
        return self.kwargs["source"]

    @property
    def target(self) -> str:
        from .base import NotConst

        try:
            value = self.kwargs["type"].fold()
        except NotConst as e:
            raise ValueError(
                "The type argument of a Cast operation must evaluate to a string literal."
            ) from e
        return value

    @property
    def strict(self) -> bool:
        return self.literal_kwarg("strict", bool, default=True)

    @property
    def _is_dtype_cast(self) -> bool:
        return self.target in DT.NAMED_TYPES

    # -- folding -----------------------------------------------------------

    def fold(self) -> Any:
        from .base import NotConst

        v = self.source.fold()
        t = self.target
        if t not in DT.NAMED_TYPES:
            raise NotConst(self.KEY)
        tag = DT.NAMED_TYPES[t]
        try:
            if DT.is_int(tag):
                return int(v)
            if DT.is_float(tag):
                return float(v)
            if tag == DT.STR:
                return str(v)
            if tag == DT.BOOL:
                return bool(v)
        except (TypeError, ValueError) as e:
            if self.strict:
                raise ValueError(f"strict cast of {v!r} to {t} failed") from e
            return None
        raise NotConst(self.KEY)

    # -- lowering ----------------------------------------------------------

    def out_type(self, ctx: LoweringContext) -> str:
        t = self.target
        if t in DT.DURATION_UNIT_SECONDS:
            return DT.DURATION
        if t in DT.DATE_UNITS:
            return DT.DATE
        return DT.NAMED_TYPES[t]

    def to_column(self, ctx: LoweringContext | None = None) -> SparkColumn:
        ctx = ctx or LoweringContext()
        t = self.target
        src = self.source.to_column(ctx)
        src_tag = self.source.out_type(ctx)

        if t in DT.DURATION_UNIT_SECONDS:
            secs = src.cast("double") * F.lit(DT.DURATION_UNIT_SECONDS[t])
            return F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), secs)
        if t in DT.DATE_UNITS:  # "year": int → Jan 1 of that year
            return F.make_date(src.cast("int"), F.lit(1), F.lit(1))

        tag = DT.NAMED_TYPES[t]
        return self._dtype_cast(src, src_tag, tag, t, ctx)

    def _dtype_cast(
        self,
        src: SparkColumn,
        src_tag: str,
        tag: str,
        target_name: str,
        ctx: LoweringContext | None = None,
    ) -> SparkColumn:
        strict = self.strict

        if tag == DT.U64 and ctx is not None and ctx.uint64_decimal:
            # Strict-unsigned mode: DECIMAL(20,0) carrier with the true
            # UInt64 range.  Out-of-range (negative or > 2**64-1) is a cast
            # FAILURE: null under `::?`, raise under strict — matching the
            # reference's Polars strict/non-strict uint64 cast
            # (/root/reference/src/dftly/nodes/types.py:94-106).  Per-source
            # conversion mirrors the DEFAULT mode's value semantics exactly
            # (a bare decimal try_cast would ROUND fractions half-up where
            # both the bigint path and Polars truncate/fail):
            if DT.is_float(src_tag):
                # truncate toward zero with the exact double→bigint cast; a
                # double→decimal cast goes through the shortest decimal
                # string and turns 533048064522343744.0 into ...740.
                # 2**63..2**64-1 take the bigint cast of x - 2**63, which
                # is exact there (Sterbenz).  NaN, ±inf and everything
                # else out of range fail (null), as on the bigint path.
                x = src.cast("double")
                two63 = 2.0**63
                out = F.when(
                    F.abs(x) < F.lit(two63), x.cast("bigint").cast("decimal(20,0)")
                ).when(
                    (x >= F.lit(two63)) & (x < F.lit(2.0**64)),
                    (x - F.lit(two63)).cast("bigint").cast("decimal(20,0)")
                    + F.lit(str(2**63)).cast("decimal(20,0)"),
                )
            elif src_tag == DT.STR:
                # integer strings only — '2.7' must FAIL like bigint/Polars,
                # not round to 3.  Whitespace handling must also mirror the
                # default path: try_cast(... as bigint) trims ALL whitespace
                # (so '\t42' is 42), while F.trim strips ASCII space only —
                # gate and strip with \s to match.
                trimmed = F.regexp_replace(src, r"^\s+|\s+$", "")
                out = F.when(
                    src.rlike(r"^\s*[+-]?[0-9]+\s*$"),
                    trimmed.try_cast("decimal(20,0)"),
                ).otherwise(F.lit(None).cast("decimal(20,0)"))
            elif DT.is_int(src_tag) or src_tag in (DT.BOOL, DT.NULL):
                out = src.try_cast("decimal(20,0)")
            else:
                # exotic or untyped sources (datetime, schema-less UNKNOWN,
                # ...): route through the default bigint semantics, then
                # widen — same values as default mode, decimal carrier
                out = src.try_cast("bigint").try_cast("decimal(20,0)")
            hi = F.lit(str(DT.U64_MAX)).cast("decimal(20,0)")
            out = F.when(
                (out < F.lit(0)) | (out > hi), F.lit(None).cast("decimal(20,0)")
            ).otherwise(out)
            if strict:
                return _strict_guard(src, out, target_name, "decimal(20,0)")
            return out

        # Targets whose Polars cast semantics differ from Spark's cast.
        if tag == DT.TIME:
            out = self._cast_to_time(src, src_tag)
            if strict and src_tag == DT.STR:  # the only fallible time source
                return _strict_guard(src, out, target_name, "bigint")
            return out
        if tag == DT.DATETIME and DT.is_int(src_tag):
            return F.timestamp_micros(src.cast("bigint"))  # µs since epoch
        if tag == DT.DATE and DT.is_int(src_tag):
            return F.date_add(F.to_date(F.lit("1970-01-01")), src.cast("int"))
        if tag == DT.DURATION:
            if src_tag == DT.DURATION:
                return src
            secs = src.cast("double") * F.lit(1e-6)  # Polars: int → µs duration
            return F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), secs)
        if src_tag == DT.TIME and tag == DT.STR:
            # micros-since-midnight → "HH:MM:SS[.ffffff]"
            ts = F.timestamp_micros(src)
            return F.date_format(ts, "HH:mm:ss")

        spark_type = DT.SPARK_TYPE[tag]
        u64_wide = ctx is not None and ctx.uint64_decimal
        # uint64_decimal U64 TARGETS returned from the dedicated decimal
        # branch above; reaching here with one would lower to the bigint
        # carrier unguarded (see _cast_cannot_fail).
        assert not (tag == DT.U64 and u64_wide), "u64 target must use decimal branch"
        if strict and _cast_cannot_fail(src_tag, tag, u64_wide):
            return src.cast(spark_type)
        out = src.try_cast(spark_type)
        if strict:
            return _strict_guard(src, out, target_name, spark_type)
        return out

    def _cast_to_time(self, src: SparkColumn, src_tag: str) -> SparkColumn:
        if src_tag == DT.TIME:
            return src
        if src_tag == DT.STR:
            # try_to_timestamp (nulls on bad input — strict guard applied by
            # caller); midnight term cancels the session-timezone offset.
            ts = F.try_to_timestamp(F.concat(F.lit("1970-01-01 "), src))
            return F.unix_micros(ts) - F.unix_micros(F.to_timestamp(F.to_date(ts)))
        if src_tag == DT.DATETIME:
            midnight = F.to_timestamp(F.to_date(src))
            return F.unix_micros(src.cast("timestamp")) - F.unix_micros(midnight)
        # Polars int→Time: nanoseconds since midnight → micros.
        return (src.cast("bigint") / F.lit(1000)).cast("bigint")

    @classmethod
    def from_str_args(cls, items: Any) -> dict[str, Any]:
        source, target = items
        return {cls.KEY: {"source": source, "type": target}}
