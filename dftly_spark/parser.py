"""The Parser: YAML / dict / string / class form → Node → Spark Columns.

Behavioral mirror of the reference entry points
(/root/reference/src/dftly/parser.py:15-384), Spark-flavored:

* ``Parser.to_spark(data, schema=None)`` → ``dict[str, Column]``
  (reference ``to_polars`` → ``dict[str, pl.Expr]``, parser.py:224).
* ``Parser.expr_to_spark(expr, schema=None)`` → ``Column`` (parser.py:357).
* ``Parser()(value)`` → ``Node`` (programmatic/class form, parser.py:178).
* ``Parser.select(df, data)`` / ``Parser.with_columns(df, data)`` — apply a
  transformation spec to a DataFrame (callers in the reference write
  ``df.select(**Parser.to_polars(ops))``; these helpers also thread the
  DataFrame's schema into lowering so the dtype-dispatched shims — string
  ``+``, time tags, interval totals — see real column types).
"""

from __future__ import annotations

import threading
import warnings
from contextlib import contextmanager
from pathlib import Path
from typing import Any

from pyspark.sql import Column as SparkColumn
from pyspark.sql import DataFrame

from .nodes import NODES, LoweringContext, Node
from .strform.parser import parse_str

try:
    import yaml as _yaml

    _YAML_LOADER = getattr(_yaml, "CSafeLoader", getattr(_yaml, "SafeLoader", None))
except ImportError:  # pragma: no cover
    _yaml = None
    _YAML_LOADER = None


def _load_yaml(text: str) -> Any:
    if _yaml is None:
        raise ImportError("pyyaml is required to parse YAML configuration strings")
    return _yaml.load(text, Loader=_YAML_LOADER)


_lowering = threading.local()


def _install_call_site_gate() -> None:
    """Let :func:`_no_call_site` switch off PySpark's DataFrame call-site
    capture for the calling thread.

    Every ``Column`` method and ``functions`` call PySpark wraps with
    ``pyspark.errors.utils._with_origin`` asks ``is_debugging_enabled()``
    and, when it is true, walks the Python stack and sets and clears the
    call site on the JVM: five py4j round trips on top of the call itself.
    Lowering a dftly node makes many such calls, and the call site they
    would record points into ``dftly_spark/nodes``, never at the caller's
    code.  The wrapper answers false only on a thread that is lowering;
    every other thread keeps PySpark's answer.  A PySpark without the hook
    (before 4.0) is left alone.
    """
    from pyspark.errors import utils

    enabled = getattr(utils, "is_debugging_enabled", None)
    if enabled is None:
        return

    def is_debugging_enabled() -> bool:
        return not getattr(_lowering, "active", False) and enabled()

    utils.is_debugging_enabled = is_debugging_enabled


_install_call_site_gate()


@contextmanager
def _no_call_site():
    """Lower without call-site capture on this thread (see
    :func:`_install_call_site_gate`); the previous state comes back on
    exit, also when lowering raises."""
    active = getattr(_lowering, "active", False)
    _lowering.active = True
    try:
        yield
    finally:
        _lowering.active = active


def _make_ctx(schema, uint64_decimal: bool = False) -> LoweringContext:
    if isinstance(schema, LoweringContext):
        if uint64_decimal and not schema.uint64_decimal:
            # never mutate a caller-owned context — later uses of the same
            # object must not inherit this call's opt-in
            return LoweringContext(
                schema.schema, schema.native_time_cols, uint64_decimal=True
            )
        return schema
    if schema is None:
        return LoweringContext(uint64_decimal=uint64_decimal)
    if isinstance(schema, DataFrame):
        return LoweringContext.from_spark_schema(schema.schema, uint64_decimal)
    if isinstance(schema, dict):
        return LoweringContext(schema, uint64_decimal=uint64_decimal)
    # assume a pyspark StructType
    return LoweringContext.from_spark_schema(schema, uint64_decimal)


class Parser:
    """Parses one YAML value into a Node from a set of registered nodes.

    Matching semantics (reference parser.py:171-222): every registered node's
    ``matches`` is tried; exactly one must succeed.  Strings route through the
    string-form grammar first; bare words become string literals, warning when
    nested (a probable missing ``$``).
    """

    def __init__(self, registered_nodes: dict[str, type[Node]] | None = None):
        self.registered_nodes = dict(registered_nodes or NODES)
        seen_keys: dict[str, list[str]] = {}
        for name, cls in self.registered_nodes.items():
            if not (isinstance(cls, type) and issubclass(cls, Node)):
                raise TypeError(
                    f"registered node {name} is not a subclass of NodeBase; got {cls}"
                )
            seen_keys.setdefault(cls.KEY, []).append(name)
        for key, names in seen_keys.items():
            if len(names) > 1:
                raise ValueError(f"multiple nodes registered with key '{key}': {names}")

    def __call__(self, value: Any, _nested: bool = False) -> Node:
        if isinstance(value, str):
            value = parse_str(value)

        if isinstance(value, dict) and list(value.keys()) == ["bare_word"]:
            word = value["bare_word"]
            if _nested:
                warnings.warn(
                    f"Bare word {word!r} interpreted as string literal in a "
                    f"subexpression. Did you mean the column '${word}'? Use ${word} "
                    f'for a column reference or "{word}" for an explicit string '
                    "literal.",
                    stacklevel=2,
                )
            value = {"literal": word}

        outputs: dict[str, Node] = {}
        errors: dict[str, Exception] = {}
        for name, cls in self.registered_nodes.items():
            if not cls.matches(value):
                continue
            try:
                if isinstance(value, cls):
                    outputs[name] = value
                else:
                    args, kwargs = cls.args_from_value(value)
                    if not cls.is_terminal:
                        args = [self(a, _nested=True) for a in args]
                        kwargs = {k: self(v, _nested=True) for k, v in kwargs.items()}
                    outputs[name] = cls(*args, **kwargs)
            except Exception as e:
                errors[name] = e

        if not outputs:
            lines = [f"No matching node found for value: {value}."]
            if errors:
                lines.append("Errors from attempted matches:")
                lines.extend(f"- {name}: {err}" for name, err in errors.items())
            raise ValueError("\n".join(lines))
        if len(outputs) > 1:
            raise ValueError(f"multiple matching nodes for {value}: {list(outputs)}")
        return next(iter(outputs.values()))

    # -- public entry points ----------------------------------------------

    @classmethod
    def to_nodes(cls, data: str | Path | dict[str, Any]) -> dict[str, Node]:
        """Parse a transformation spec to named AST nodes (no lowering)."""
        parser = cls()
        if isinstance(data, dict):
            mapping = data
        elif isinstance(data, str):
            try:
                if Path(data).is_file():
                    data = Path(data).read_text()
            except (OSError, ValueError):
                pass
            mapping = _load_yaml(data)
        elif isinstance(data, Path):
            if not data.is_file():
                raise FileNotFoundError(f"YAML file not found: {data}")
            mapping = _load_yaml(data.read_text())
        else:
            raise TypeError(f"data must be a str, Path, or dict; got {type(data)} instead")

        if not isinstance(mapping, dict):
            raise ValueError(
                f"YAML content must be a dictionary at the top level; got {type(mapping)}"
            )
        return {name: parser(value) for name, value in mapping.items()}

    @classmethod
    def to_spark(
        cls,
        data: str | Path | dict[str, Any],
        schema=None,
        uint64_decimal: bool = False,
    ) -> dict[str, SparkColumn]:
        """Parse a transformation spec into named, aliased Spark Columns.

        ``uint64_decimal=True`` opts into strict-unsigned uint64 semantics:
        ``uint64`` casts and ``hash`` lower to ``DECIMAL(20,0)`` with the
        true [0, 2**64-1] range (strict casts of out-of-range values raise;
        ``::?`` nulls them) instead of the default caveated ``bigint``.
        """
        with _no_call_site():
            ctx = _make_ctx(schema, uint64_decimal)
            return {
                name: node.to_column(ctx).alias(name)
                for name, node in cls.to_nodes(data).items()
            }

    @classmethod
    def expr_to_spark(
        cls, expr: str, schema=None, uint64_decimal: bool = False
    ) -> SparkColumn:
        """Parse a single expression string into one unaliased Spark Column."""
        with _no_call_site():
            return cls()(expr).to_column(_make_ctx(schema, uint64_decimal))

    # -- DataFrame conveniences -------------------------------------------

    @classmethod
    def select(cls, df: DataFrame, data, uint64_decimal: bool = False) -> DataFrame:
        """``df.select`` of the spec's columns, schema-aware."""
        cols = cls.to_spark(data, schema=df, uint64_decimal=uint64_decimal)
        return df.select(*cols.values())

    @classmethod
    def with_columns(
        cls, df: DataFrame, data, uint64_decimal: bool = False
    ) -> DataFrame:
        """``df.withColumns`` of the spec's columns, schema-aware."""
        return df.withColumns(
            cls.to_spark(data, schema=df, uint64_decimal=uint64_decimal)
        )
