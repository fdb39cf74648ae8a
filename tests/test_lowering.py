"""Spark lowering semantics for every node (SURVEY.md §2 inventory).

Expected values are the reference's doctest outputs (Polars semantics); each
case exercises the corresponding Spark shim from SURVEY.md §4.3.
"""

import datetime as dt

import pytest

CASES = [
    # arithmetic (reference arithmetic.py doctests)
    ("1 + 2 * 3", {}, 7),
    ("'hello ' + 'world'", {}, "hello world"),
    ("10 - (2 + 3 + 4)", {}, 1),
    ("6 / 3", {}, 2.0),
    ("2 ** 10", {}, 1024),
    ("9 ** 0.5", {}, 3.0),
    ("-2 ** 2", {}, 4),
    ("-(2 ** 2)", {}, -4),
    ("2 * 3 ** 2", {}, 18),
    ("2 ** 3 * 2", {}, 16),
    ("2 ** 3 ** 2", {}, 512),
    ("2.0 ** -3 ** 2", {}, 512.0),
    ("min(3, 1, 2)", {}, 1),
    ("max(3, 1, 2)", {}, 3),
    ("mean(1, 2, 3)", {}, 2.0),
    ("not true", {}, False),
    ("true and false and true", {}, False),
    ("true or false or true", {}, True),
    ("-5", {}, -5),
    # null propagation
    ("$a + $b", {"schema": "a int, b int", "row": (None, 2)}, None),
    ("coalesce($a, 1, 2)", {"schema": "a int", "row": (None,)}, 1),
    ("$x ?? $y ?? 'UNK'", {"schema": "x string, y string", "row": (None, None)}, "UNK"),
    ("mean($a, $b, 4)", {"schema": "a double, b double", "row": (None, 2.0)}, 3.0),
    # comparisons
    ("5 > 3", {}, True),
    ("2 < 3", {}, True),
    ("3 == 3", {}, True),
    ("2 != 3", {}, True),
    ("3 >= 3", {}, True),
    ("5 <= 3", {}, False),
    # conditional
    ("'big' if 6 > 5 else 'small'", {}, "big"),
    ("'big' if 4 > 5", {}, None),
    # casts (types.py doctests)
    ("'3'::int + 4", {}, 7),
    ("'3.14'::float64", {}, 3.14),
    ("1::bool", {}, True),
    ("42::str", {}, "42"),
    ("'1000 MG'::?float64", {}, None),
    ("'+5'::?float64", {}, 5.0),
    ("''::?float64", {}, None),
    ("2023::year", {}, dt.date(2023, 1, 1)),
    ("3::days::total_seconds", {}, 259200),
    ("3::minutes::total_seconds", {}, 180),
    ("'4'::weeks::total_days", {}, 28),
    ("1500::milliseconds::total_microseconds", {}, 1500000),
    ("1500::microseconds::total_microseconds", {}, 1500),
    ("1.5::years::total_days", {}, 547),
    ("$dose::int", {"dose": 3.7}, 3),
    # strings
    ("len_chars('hello')", {}, 5),
    ("len_chars('')", {}, 0),
    ("len_chars('café')", {}, 4),
    ("substring('abcdef', 1, 4)", {}, "bcd"),
    ("substring('abcdef', 2)", {}, "cdef"),
    ("substring('abc', 0, 0)", {}, ""),
    ("substring('abcdef', -2)", {}, "ef"),
    ("substring('abcdef', -4, -1)", {}, "cde"),
    ("substring('abcdef', -4, 2)", {}, ""),
    ("substring('abcdef', 2, -1)", {}, "cde"),
    ("substring('abcdef', -100, 200)", {}, "abcdef"),
    ("substring('abcdef', 5, 2)", {}, ""),
    (r"extract /\d+/ from 'foo123bar'", {}, "123"),
    (r"extract group 2 of /([a-z]+)([0-9]+)/ from 'foo123'", {}, "123"),
    (r"extract /\d+/ from 'nodigits'", {}, None),
    (r"/\d+/ in 'foo123'", {}, True),
    (r"/\d+/ in 'no_digits'", {}, False),
    ("split('a.b.c', '.')", {}, ["a", "b", "c"]),
    ("split('a,,b', ',')", {}, ["a", "", "b"]),
    ("split('', ',')", {}, [""]),
    ("split($c, ',')", {"schema": "c string", "row": (None,)}, None),
    # interpolation
    ('f"dose={$dose::int}"', {"dose": 3.7}, "dose=3"),
    ('f"{{{$icd}}}"', {"icd": "12345"}, "{12345}"),
    (r'f"{extract group 1 of /^([0-9]{3})/ from $icd}.{$icd[3:]}"', {"icd": "12345"}, "123.45"),
    ('f"{$a ?? \'UNK\'}//{$b ?? \'UNK\'}"', {"schema": "a string, b string", "row": (None, "y")}, "UNK//y"),
    ('f"{$code[0:3]}.{$code[3:]}" if len_chars($code) > 3 else $code', {"code": "A420"}, "A42.0"),
    # strptime (str.py doctests)
    ("'2023-01-01'::'%Y-%m-%d'", {}, dt.date(2023, 1, 1)),
    ("'2023-01-01 12:34:56'::'%Y-%m-%d %H:%M:%S'", {}, dt.datetime(2023, 1, 1, 12, 34, 56)),
    ("'12:34:56'::'%H:%M:%S'", {}, (12 * 3600 + 34 * 60 + 56) * 1_000_000),
    ("'2023 12:11'::'%Y %H:%M'", {}, dt.datetime(2023, 1, 1, 12, 11)),
    ("'2020-06-20'::?'%Y-%m-%d %H:%M:%S'", {}, None),
    # set_time / accessors (datetime.py doctests)
    ("$d @ 12:10", {"d": dt.date(2023, 1, 1)}, dt.datetime(2023, 1, 1, 12, 10)),
    ("$d @ 23:59:59", {"d": dt.datetime(2023, 6, 15, 8, 0)}, dt.datetime(2023, 6, 15, 23, 59, 59)),
    ("dt_year($e)", {"e": dt.datetime(2024, 6, 15, 14, 30)}, 2024),
    ("$e::year_of_date", {"e": dt.datetime(2024, 6, 15)}, 2024),
    ("2024::year", {}, dt.date(2024, 1, 1)),
    ("$e::month_of_year", {"e": dt.datetime(2024, 6, 15)}, 6),
    ("$e::day_of_month", {"e": dt.datetime(2024, 6, 15)}, 15),
    ("$e::day_of_week", {"e": dt.datetime(2024, 6, 15)}, 6),  # Saturday, 1=Mon
    ("$e::day_of_year", {"e": dt.datetime(2024, 6, 15)}, 167),
    ("$e::hour_of_day", {"e": dt.datetime(2024, 6, 15, 14, 30)}, 14),
    ("$e as hour_of_day", {"e": dt.datetime(2024, 6, 15, 14, 30)}, 14),
    ("$e::minute_of_hour", {"e": dt.datetime(2024, 6, 15, 14, 30)}, 30),
    ("$e::second_of_minute", {"e": dt.datetime(2024, 6, 15, 14, 30, 45)}, 45),
    ("$e::week_of_year", {"e": dt.datetime(2024, 6, 15)}, 24),
    ("$e::quarter_of_year", {"e": dt.datetime(2024, 6, 15)}, 2),
    ("11:30::hour_of_day", {}, 11),
    ("11:30::minute_of_hour", {}, 30),
    # duration totals
    ("(150::minutes)::total_minutes", {}, 150),
    ("(150::minutes)::total_hours", {}, 2),
    ("(30::days + 12::hours)::total_days", {}, 30),
    ("(1::days + 6::hours)::total_hours", {}, 30),
    ("(2::hours + 30::minutes)::total_seconds", {}, 9000),
    ("(1::microseconds)::total_nanoseconds", {}, 1000),
    ("($a - $b)::total_days", {"a": dt.datetime(2024, 1, 31), "b": dt.datetime(2024, 1, 1)}, 30),
    # datetime + duration shift (arithmetic.py:279-285)
    (
        "'2014-12-31 13:45:00'::'%Y-%m-%d %H:%M:%S' + 90::minutes",
        {},
        dt.datetime(2014, 12, 31, 15, 15),
    ),
    # hash family
    ("hash('hello') == hash('hello')", {}, True),
    ("hash('hello') != hash('world')", {}, True),
    ("hash($a)", {"schema": "a string", "row": (None,)}, None),
    ("signed_hash($a)", {"schema": "a string", "row": (None,)}, None),
    ("coalesce($y, signed_hash($mrn))", {"schema": "y bigint, mrn string", "row": (10, "a")}, 10),
]


@pytest.mark.parametrize("expr,data,want", CASES, ids=[c[0][:48] for c in CASES])
def test_lowering(run1, expr, data, want):
    data = dict(data)
    schema = data.pop("schema", None)
    row = data.pop("row", None)
    got = run1(expr, schema=schema, row=row, **data)
    assert got == want, f"{expr!r}: got {got!r}, want {want!r}"


def test_strict_cast_raises(run1):
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception, match="strict cast|USER_RAISED"):
        run1("'1000 MG'::float64")


def test_strict_strptime_raises(run1):
    with pytest.raises(Exception, match="strptime|USER_RAISED"):
        run1("'nope'::'%Y-%m-%d'")


def test_age_formula(run1):
    got = run1(
        "($event_time - $dob)::total_microseconds / 31557600000000",
        event_time=dt.datetime(2030, 1, 1),
        dob=dt.datetime(2000, 1, 1),
    )
    assert round(got, 4) == 30.0014


def test_stddev_formula(run1):
    got = run1(
        "($sum_sqd / $n - ($sum / $n) ** 2) ** 0.5",
        sum=10.0, sum_sqd=30.0, n=4,
    )
    assert got == pytest.approx(1.118033988749895)


def test_variable_name_column(spark):
    from dftly_spark import Parser

    df = spark.createDataFrame([(1.5,)], ["Variable Name"])
    out = df.select(Parser.expr_to_spark("$`Variable Name`::float64 + 1", schema=df).alias("v"))
    assert out.collect()[0][0] == 2.5


def test_select_spec(spark):
    from dftly_spark import Parser

    df = spark.createDataFrame([(1, 3), (2, 4)], ["col1", "col2"])
    out = Parser.select(df, {"sum_col": "$col1 + $col2", "diff": "$col1 - $col2"})
    assert out.columns == ["sum_col", "diff"]
    assert [tuple(r) for r in out.collect()] == [(4, -2), (6, -2)]


def test_hash_distinctness_on_column(spark):
    from dftly_spark import Parser

    df = spark.createDataFrame([("a",), ("b",), (None,), (None,), ("a",)], ["mrn"])
    vals = [r[0] for r in df.select(Parser.expr_to_spark("hash($mrn)", schema=df).alias("h")).collect()]
    assert vals[2] is None and vals[3] is None
    assert vals[0] == vals[4] and vals[0] != vals[1]
    filled = [
        r[0]
        for r in df.select(
            Parser.expr_to_spark('hash(coalesce($mrn, "MISSING"))', schema=df).alias("h")
        ).collect()
    ]
    assert all(v is not None for v in filled)


# ---------------------------------------------------------------------------
# Regex dialect boundary: reference compiles Rust regex, we run Java regex
# (SURVEY §4.3 #4).  The bridgeable spelling is translated; the inherent
# divergences are pinned here so they are a contract, not an accident.
# ---------------------------------------------------------------------------


def test_regex_python_style_named_group_translated(run1):
    # Rust/Python spelling (?P<name>…) is illegal in Java; the lowering
    # rewrites it to Java's (?<name>…)
    expr = {"regex_extract": {"pattern": {"literal": r"(?P<yr>\d{4})-\d{2}"},
                              "source": "$s", "group_index": {"literal": 1}}}
    assert run1(expr, s="2024-05-01") == "2024"


def test_regex_java_style_named_group_passthrough(run1):
    expr = {"regex_extract": {"pattern": {"literal": r"(?<yr>\d{4})"},
                              "source": "$s", "group_index": {"literal": 1}}}
    assert run1(expr, s="2024-05-01") == "2024"


def test_regex_named_group_translated_in_dynamic_pattern(spark):
    from dftly_spark import Parser

    df = spark.createDataFrame(
        [("2024-05-01", r"(?P<yr>\d{4})")], "s string, pat string"
    )
    out = Parser.select(
        df, {"m": {"regex_match": {"pattern": "$pat", "source": "$s"}}}
    ).collect()
    assert out[0].m is True


def test_regex_lookahead_divergence_is_permissive(run1):
    # Rust regex (the reference) rejects lookarounds; Java accepts them.
    # We are deliberately permissive — configs using lookarounds work here
    # and fail there, never the reverse — with a parse-time warning
    # (test_regex_java_only_syntax_warns) flagging the divergence.
    expr = {"regex_match": {"pattern": {"literal": r"foo(?=bar)"}, "source": "$s"}}
    assert run1(expr, s="foobar") is True
    assert run1(expr, s="foobaz") is False


@pytest.mark.parametrize(
    "pattern",
    [
        r"foo(?=bar)",       # lookahead
        r"(?<!x)y",          # negative lookbehind
        r"(a)\1",            # backreference
        r"\k<g>",            # named backreference
        r"(?>ab)c",          # atomic group
        r"ab*+",             # possessive quantifier
    ],
)
def test_regex_java_only_syntax_warns(pattern):
    """Java-only constructs the reference's Rust engine rejects produce a
    parse-time warning (strict-dialect lint) — the config still runs."""
    import warnings

    from dftly_spark import Parser

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        Parser()({"regex_match": {"pattern": {"literal": pattern},
                                  "source": {"literal": "x"}}})
    assert any("Rust regex" in str(x.message) for x in w), pattern


@pytest.mark.parametrize(
    "pattern", [r"[a-z]+", r"(?P<g>\d+)", r"(?<g>\d+)", r"a{2,3}", r"\p{L}+"]
)
def test_regex_portable_syntax_does_not_warn(pattern):
    import warnings

    from dftly_spark import Parser

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        Parser()({"regex_match": {"pattern": {"literal": pattern},
                                  "source": {"literal": "x"}}})
    assert not [x for x in w if "Rust regex" in str(x.message)], pattern


def test_regex_unicode_class_parity(run1):
    expr = {"regex_extract": {"pattern": {"literal": r"\p{L}+"}, "source": "$s"}}
    assert run1(expr, s="héllo42") == "héllo"


# -- lowering without PySpark's call-site capture -------------------------


def test_lowering_gate_is_per_thread(spark, monkeypatch):
    """While one thread lowers, another keeps PySpark's call-site capture."""
    import threading

    from pyspark.errors import utils

    from dftly_spark import Parser

    node_cls = type(Parser()("$a"))
    lowered = node_cls.to_column
    inside, release, seen = threading.Event(), threading.Event(), []

    def blocking(self, ctx):
        seen.append(utils.is_debugging_enabled())
        inside.set()
        assert release.wait(30)
        return lowered(self, ctx)

    monkeypatch.setattr(node_cls, "to_column", blocking)
    assert utils.is_debugging_enabled()
    worker = threading.Thread(target=Parser.expr_to_spark, args=("$a",))
    worker.start()
    try:
        assert inside.wait(30)
        other = utils.is_debugging_enabled()
    finally:
        release.set()
        worker.join(30)
    assert seen == [False] and other is True
    assert utils.is_debugging_enabled()


def test_lowering_gate_clears_after_raise(spark, monkeypatch):
    from pyspark.errors import utils

    from dftly_spark import Parser

    def boom(self, ctx):
        assert not utils.is_debugging_enabled()
        raise RuntimeError("lowering failed")

    monkeypatch.setattr(type(Parser()("$a")), "to_column", boom)
    with pytest.raises(RuntimeError, match="lowering failed"):
        Parser.to_spark({"x": "$a"})
    assert utils.is_debugging_enabled()


def test_strict_cast_error_class_at_execution(spark):
    """Lowering without the call site still gives the strict cast's error."""
    from pyspark.errors import PySparkException

    from dftly_spark import Parser

    df = spark.createDataFrame([("x",)], "a string")
    with pytest.raises(PySparkException) as err:
        df.select(Parser.expr_to_spark("$a::int", schema=df)).collect()
    assert err.value.getCondition() == "USER_RAISED_EXCEPTION"
    assert "strict cast to int failed for value: x" in str(err.value)


def test_q_series_lowering_py4j_calls_per_expression(spark, tmp_path):
    """Building q01-q30 over the benchmark's seed-7 tables lowers each
    expression in at most 15 py4j CALL commands, counted as the
    benchmark's tracer counts them."""
    import re
    import sys
    from pathlib import Path

    root = str(Path(__file__).resolve().parents[1])
    if root not in sys.path:
        sys.path.insert(0, root)
    import __spark_entry__ as entry
    from perfbench import datagen
    from perfbench.spans import Tracer

    qs = entry.queries()
    names = sorted(n for n in qs if re.fullmatch(r"q(0[1-9]|[12]\d|30)_\w+", n))
    assert len(names) == 30
    data = datagen.write(7, 0.002, str(tmp_path))
    tracer = Tracer()
    tracer.install()
    try:
        for name in names:
            qs[name](spark, data)
    finally:
        tracer.uninstall()
    per_expr = tracer.self_calls("nodes") / tracer.count("nodes")
    assert tracer.count("nodes") > 100 and per_expr <= 15, per_expr
