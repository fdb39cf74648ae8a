"""Property tests for the strict-unsigned uint64 mode.

Each property generates a BATCH of values per Hypothesis example and runs
them through ONE DataFrame (a per-value Spark job would make the suite
minutes-slow); the expected results come from a pure-Python model of the
documented semantics: DECIMAL(20,0) carrier, [0, 2**64-1] range, ``::?``
nulls out-of-range, integer strings only, floats truncate toward zero,
hash = signed xxhash64 + 2**64 when negative.
"""

from __future__ import annotations

import math

from hypothesis import example, given, settings
from hypothesis import strategies as st

from dftly_spark.parser import Parser

U64_MAX = 2**64 - 1


def _model_int(v: int):
    return v if 0 <= v <= U64_MAX else None


def _model_str(s: str):
    t = s.strip()
    if not t or not t.lstrip("+-").isdigit() or t.count("+") + t.count("-") > 1:
        return None
    if t[0] not in "+-" and not t.isdigit():
        return None
    v = int(t)
    return _model_int(v)


def _model_float(f: float):
    if math.isnan(f) or math.isinf(f):
        return None
    return _model_int(math.trunc(f))


@settings(max_examples=12, deadline=None)
@given(st.lists(st.integers(-(2**70), 2**70), min_size=1, max_size=30))
def test_int_cast_matches_model(spark, vals):
    # longs only reach 2**63-1; route wider ints through strings so the
    # full generated range exercises the parse path too
    df = spark.createDataFrame([(i, str(v)) for i, v in enumerate(vals)], "i long, s string")
    col = Parser.expr_to_spark("$s ::? uint64", schema=df, uint64_decimal=True)
    rows = df.select("i", col.alias("u")).collect()
    got = {r.i: (None if r.u is None else int(r.u)) for r in rows}
    expect = {i: _model_int(v) for i, v in enumerate(vals)}
    assert got == expect


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet="0123456789+- .eE_x", min_size=0, max_size=25
        ),
        min_size=1,
        max_size=30,
    )
)
def test_string_cast_matches_model(spark, vals):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, s string")
    col = Parser.expr_to_spark("$s ::? uint64", schema=df, uint64_decimal=True)
    rows = df.select("i", col.alias("u")).collect()
    got = {r.i: (None if r.u is None else int(r.u)) for r in rows}
    expect = {i: _model_str(v) for i, v in enumerate(vals)}
    assert got == expect


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e25, max_value=1e25, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=30,
    )
)
# integral doubles at and above 2**53 whose shortest decimal string drops
# digits; the edges of the 2**63 split and of the uint64 range
@example([5.3304806452234374e17, 1e19, 2.0**63, 2.0**64 - 2048, 2.0**64, -0.5, -2.7])
def test_float_cast_truncates_toward_zero(spark, vals):
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(vals)], "i long, d double")
    col = Parser.expr_to_spark("$d ::? uint64", schema=df, uint64_decimal=True)
    rows = df.select("i", col.alias("u")).collect()
    got = {r.i: (None if r.u is None else int(r.u)) for r in rows}
    expect = {i: _model_float(v) for i, v in enumerate(vals)}
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=40), min_size=1, max_size=25))
def test_hash_wrap_law(spark, vals):
    # unsigned hash == signed xxhash64 (+ 2**64 when negative), in range
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, s string")
    signed = Parser.expr_to_spark("signed_hash($s)", schema=df)
    unsigned = Parser.expr_to_spark("hash($s)", schema=df, uint64_decimal=True)
    for r in df.select("i", signed.alias("sg"), unsigned.alias("u")).collect():
        expect = r.sg + 2**64 if r.sg < 0 else r.sg
        assert int(r.u) == expect
        assert 0 <= int(r.u) <= U64_MAX
