"""AST node base for the dftly-spark expression compiler.

Mirrors the *behavioral contract* of the reference AST
(/root/reference/src/dftly/nodes/base.py) — the four input forms, registry
matching, recursive construction, ``referenced_columns`` — but the
implementation is new and Spark-first:

* ``to_column(ctx)`` lowers a node to a native ``pyspark.sql.Column``
  (reference: ``polars_expr`` → ``pl.Expr``, base.py:558).
* ``out_type(ctx)`` is a lightweight dtype-inference hook driving the
  Polars↔Spark semantic shims (SURVEY.md §4.3); the reference needs no
  equivalent because Polars' semantics are its own.
* ``fold()`` evaluates Literal-reducible subtrees in pure Python.  The
  reference instead runs a one-row ``pl.select(...).item()`` probe per config
  kwarg (base.py:542) — on Spark that would launch a job per AST node, so we
  fold driver-side (SURVEY.md §4.3 #13).

Input forms (reference base.py:1-9):
    1. class form       — a Node instance
    2. resolved form    — ``{"expression": {"type": KEY, "arguments": ...}}``
    3. short form       — ``{KEY: arguments}``
    4. string form      — handled by :mod:`dftly_spark.strform`
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Callable, ClassVar

from pyspark.sql import Column as SparkColumn
from pyspark.sql import functions as F

from .. import dtypes as DT

EXPRESSION_KEY = "expression"
EXPRESSION_TYPE_KEY = "type"

_REQUIRED = object()


class NotConst(Exception):
    """Raised by :meth:`Node.fold` when a subtree is not a compile-time constant."""


class LoweringContext:
    """Carries the (optional) input schema during lowering.

    ``schema`` maps column name → dtype tag (:mod:`dftly_spark.dtypes`).  When
    absent, inference degrades gracefully to ``UNKNOWN`` and lowering falls
    back to Spark's default coercions.
    """

    __slots__ = ("schema", "native_time_cols", "uint64_decimal")

    def __init__(
        self,
        schema: dict[str, str] | None = None,
        native_time_cols: set[str] | None = None,
        uint64_decimal: bool = False,
    ):
        self.schema = schema
        # Columns whose PHYSICAL type is Spark 4.1 native TIME(n): tagged
        # TIME like everything else, but Column lowering must convert them
        # to the engine's micros-since-midnight long at the input boundary
        # (dftly_spark/timetype.py).
        self.native_time_cols = native_time_cols or set()
        # Strict-unsigned mode (SURVEY §1.2 uint64 caveat): carry uint64 as
        # DECIMAL(20,0) with true [0, 2**64-1] range semantics — strict casts
        # of negatives RAISE, hash yields the unsigned value — instead of the
        # default signed-bigint-with-caveat.  Off by default: bigint math is
        # codegen-friendly; decimal math is not, so this trades speed for
        # reference-exact unsignedness (reference types.py:8-12).
        self.uint64_decimal = uint64_decimal

    @classmethod
    def from_spark_schema(
        cls, spark_schema, uint64_decimal: bool = False
    ) -> "LoweringContext":
        return cls(
            {
                f.name: DT.tag_of_spark(f.dataType, uint64_decimal)
                for f in spark_schema.fields
            },
            {
                f.name
                for f in spark_schema.fields
                if f.dataType.simpleString().startswith("time(")
            },
            uint64_decimal=uint64_decimal,
        )

    def col_type(self, name: str) -> str:
        if self.schema is None:
            return DT.UNKNOWN
        return self.schema.get(name, DT.UNKNOWN)


class Node:
    """Base class for all expression nodes.

    Subclasses set ``KEY`` (the registry / dict-form name) and the arity spec
    (``N_ARGS`` exact positional count or ``MIN_ARGS``; ``REQUIRED_KW`` /
    ``OPTIONAL_KW`` for keyword-form nodes).  Terminal nodes keep raw Python
    values in ``args``; non-terminals require Node children.
    """

    KEY: ClassVar[str]
    SYM: ClassVar[str | tuple[str, ...] | None] = None
    is_terminal: ClassVar[bool] = False

    # Arity spec (None = unconstrained)
    N_ARGS: ClassVar[int | None] = None
    MIN_ARGS: ClassVar[int | None] = None
    REQUIRED_KW: ClassVar[frozenset | None] = None
    OPTIONAL_KW: ClassVar[frozenset] = frozenset()
    ALLOW_KW: ClassVar[bool] = False  # keyword-form node?

    def __init__(self, *args, **kwargs):
        self.args: tuple = args
        self.kwargs: dict[str, Any] = kwargs
        self._normalize()
        self._validate()

    # -- construction-time hooks ------------------------------------------

    def _normalize(self) -> None:
        """Hook run before validation (e.g. Cast's positional sugar)."""

    def _validate(self) -> None:
        if not self.is_terminal:
            if not all(isinstance(a, Node) for a in self.args):
                raise TypeError(f"all arguments to {self.KEY} must be NodeBase instances")
            if not all(isinstance(k, str) and isinstance(v, Node) for k, v in self.kwargs.items()):
                raise TypeError(f"all keyword arguments to {self.KEY} must be str:NodeBase pairs")
        if self.ALLOW_KW:
            if self.args:
                raise ValueError(f"{self.KEY} does not accept positional arguments")
            if self.REQUIRED_KW is not None:
                missing = set(self.REQUIRED_KW) - set(self.kwargs)
                extra = set(self.kwargs) - set(self.REQUIRED_KW) - set(self.OPTIONAL_KW)
                if missing:
                    raise ValueError(f"Missing required keys for {self.KEY}: {missing}")
                if extra:
                    raise ValueError(f"Extra unallowed keys for {self.KEY}: {extra}")
        else:
            if self.kwargs:
                raise ValueError(f"{self.KEY} does not accept keyword arguments")
            if self.N_ARGS is not None and len(self.args) != self.N_ARGS:
                plural = "argument" if self.N_ARGS == 1 else "arguments"
                raise ValueError(
                    f"{self.KEY} requires exactly {self.N_ARGS} {plural}; got {len(self.args)}"
                )
            if self.MIN_ARGS is not None and len(self.args) < self.MIN_ARGS:
                raise ValueError(
                    f"{self.KEY} requires at least {self.MIN_ARGS} argument(s); got {len(self.args)}"
                )

    # -- form matching (reference base.py:293-419) ------------------------

    @classmethod
    def _is_resolved_form(cls, value: Any) -> bool:
        return (
            isinstance(value, dict)
            and len(value) == 1
            and EXPRESSION_KEY in value
            and isinstance(value[EXPRESSION_KEY], dict)
            and value[EXPRESSION_KEY].get(EXPRESSION_TYPE_KEY) == cls.KEY
        )

    @classmethod
    def _is_short_form(cls, value: Any) -> bool:
        return isinstance(value, dict) and len(value) == 1 and cls.KEY in value

    @classmethod
    def matches(cls, value: Any) -> bool:
        if isinstance(value, cls):
            return True
        if isinstance(value, dict):
            return cls._is_resolved_form(value) or cls._is_short_form(value)
        return False

    @classmethod
    def args_from_value(cls, value: Any) -> tuple[tuple, dict]:
        """Split a matching (non-class-form) value into (args, kwargs)."""
        if cls._is_resolved_form(value):
            raw = value[EXPRESSION_KEY].get("arguments", None)
        elif cls._is_short_form(value):
            raw = value[cls.KEY]
        else:
            raise ValueError(
                f"Input must match node type {cls.KEY} but be unresolved; got {value}"
            )
        if raw is None:
            return (), {}
        if isinstance(raw, dict):
            return (), raw
        if isinstance(raw, (list, tuple)):
            return tuple(raw), {}
        return (raw,), {}

    # -- string-form bridge ----------------------------------------------

    @classmethod
    def from_str_args(cls, items: Any) -> dict[str, Any]:
        """Build the short-form dict from the string parser's argument list.

        Default: positional nodes wrap the list as-is; single non-list values
        are wrapped (matching the reference's per-node ``from_lark``).
        """
        if not isinstance(items, list):
            items = [items]
        return {cls.KEY: items}

    # -- lineage / folding / lowering -------------------------------------

    @property
    def referenced_columns(self) -> set[str]:
        cols: set[str] = set()
        for a in self.args:
            if isinstance(a, Node):
                cols |= a.referenced_columns
        for v in self.kwargs.values():
            if isinstance(v, Node):
                cols |= v.referenced_columns
        return cols

    def fold(self) -> Any:
        """Evaluate to a plain Python constant, or raise :class:`NotConst`."""
        raise NotConst(self.KEY)

    def out_type(self, ctx: LoweringContext) -> str:
        return DT.UNKNOWN

    def to_column(self, ctx: LoweringContext | None = None) -> SparkColumn:
        raise NotImplementedError

    @property
    def spark_col(self) -> SparkColumn:
        """Schema-less convenience lowering (mirrors reference ``polars_expr``)."""
        return self.to_column(LoweringContext())

    # -- config-kwarg helper (reference base.py:455-556) -------------------

    _TYPE_NAMES: ClassVar[dict[type, str]] = {
        bool: "boolean",
        str: "string",
        int: "integer",
        float: "float",
    }

    def literal_kwarg(self, name: str, expected_type: type, *, default: Any = _REQUIRED) -> Any:
        """Fold a config kwarg to a Python literal of ``expected_type``.

        Pure-Python replacement for the reference's ``pl.select(...).item()``
        probe (base.py:542) — see SURVEY.md §4.3 #13.
        """
        type_name = self._TYPE_NAMES.get(expected_type, expected_type.__name__)
        node = self.kwargs.get(name)
        if node is None:
            if default is _REQUIRED:
                raise ValueError(f"The {name} argument is required.")
            return default
        if not isinstance(node, Node):
            raise ValueError(
                f"The {name} argument must be a NodeBase instance that evaluates to a {type_name}."
            )
        try:
            value = node.fold()
        except NotConst as e:
            raise ValueError(f"The {name} argument must evaluate to a {type_name}.") from e
        wrong = not isinstance(value, expected_type) or (
            expected_type is not bool and isinstance(value, bool)
        )
        if wrong:
            raise ValueError(f"The {name} argument must be a {type_name}, got {type(value)}")
        return value

    def __repr__(self) -> str:
        parts = [repr(a) for a in self.args]
        parts += [f"{k}={v!r}" for k, v in self.kwargs.items()]
        return f"{type(self).__name__}({', '.join(parts)})"

    def __eq__(self, other) -> bool:
        return (
            type(self) is type(other)
            and self.args == other.args
            and self.kwargs == other.kwargs
        )

    def __hash__(self):
        return hash((type(self), self.args, tuple(sorted(self.kwargs.items(), key=lambda kv: kv[0]))))


# ---------------------------------------------------------------------------
# Terminals
# ---------------------------------------------------------------------------

_POD_TYPES = (int, float, str, bool, type(None), _dt.datetime)


def time_to_micros(t: _dt.time) -> int:
    return ((t.hour * 60 + t.minute) * 60 + t.second) * 1_000_000 + t.microsecond


class Terminal(Node):
    is_terminal = True

    @classmethod
    def from_str_args(cls, val: Any) -> dict[str, Any]:
        return {cls.KEY: val}


class Literal(Terminal):
    """A constant value (reference base.py:746-845).

    POD passthrough: ``int, float, str, bool, None, datetime`` match directly;
    the string grammar additionally produces ``date`` and ``time`` values.
    ``time`` lowers to a micros-since-midnight long (SURVEY.md §4.3 #6).
    """

    KEY = "literal"
    N_ARGS = 1

    @classmethod
    def _is_pod(cls, value: Any) -> bool:
        return isinstance(value, _POD_TYPES)

    @classmethod
    def matches(cls, value: Any) -> bool:
        return cls._is_pod(value) or super().matches(value)

    @classmethod
    def args_from_value(cls, value: Any) -> tuple[tuple, dict]:
        if cls._is_pod(value):
            return ((value,), {})
        if cls._is_resolved_form(value):
            return ((value[EXPRESSION_KEY].get("arguments", None),), {})
        if cls._is_short_form(value):
            return ((value[cls.KEY],), {})
        raise ValueError(
            f"Input must match node type {cls.KEY} but be unresolved; got {value}"
        )

    @property
    def value(self) -> Any:
        return self.args[0]

    def fold(self) -> Any:
        return self.value

    def out_type(self, ctx: LoweringContext) -> str:
        return DT.tag_of_python(self.value)

    def to_column(self, ctx: LoweringContext | None = None) -> SparkColumn:
        v = self.value
        if isinstance(v, _dt.time):
            return F.lit(time_to_micros(v))
        return F.lit(v)


class Column(Terminal):
    """A column reference (reference base.py:853-880).

    ``pyspark.sql.Column`` is imported as ``SparkColumn`` here so this node can
    keep the reference's public class name.
    """

    KEY = "column"
    N_ARGS = 1

    @property
    def name(self) -> str:
        return self.args[0]

    @property
    def referenced_columns(self) -> set[str]:
        return {self.name}

    def out_type(self, ctx: LoweringContext) -> str:
        return ctx.col_type(self.name)

    def to_column(self, ctx: LoweringContext | None = None) -> SparkColumn:
        if ctx is not None and self.name in ctx.native_time_cols:
            # Native TIME(n) input (Spark 4.1): convert once at the input
            # boundary to the engine's micros-since-midnight long; every
            # downstream accessor / ``@`` / cast path is representation-
            # agnostic from here.
            from ..timetype import time_to_micros

            return time_to_micros(F.col(self.name))
        return F.col(self.name)

