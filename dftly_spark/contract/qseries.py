"""Reference-surface queries q01-q26: the 50-node inventory end-to-end
(arithmetic, casts, datetimes, strings, strptime, hashing, TIME bridge).

Registers (in order): q01_project_arith, q02_power, q03_unary_bool,
q04_comparisons, q05_minmax_mean, q06_conditional_coalesce, q07_casts,
q08_year_date, q09_duration_units, q10_dt_components, q11_time_components,
q12_set_time, q13_ts_diff_totals, q14_add_duration, q15_strptime,
q16_time_type, q17_regex, q18_substring, q19_interp_len, q20_split,
q21_hash, q22_flagship, q23_casts_extended, q24_dynamic_patterns,
q25_iso_week, q26_native_time.

Split out of __spark_entry__.py (round 13); registration order is
preserved by dftly_spark/contract/__init__.py importing the waves in
order.  See common.py for the registry and shared fixtures.
"""

from __future__ import annotations

from dftly_spark import Parser
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .common import _prep, _q, _spec_oracle, _spec_query, _t



_Q01_SPEC = {
            "ok": "$l_orderkey",
            "ln": "$l_linenumber",
            "revenue": "$l_extendedprice * (1 - $l_discount)",
            "total_plus_tax": "$l_extendedprice * (1 - $l_discount) * (1 + $l_tax)",
            "qty_plus_line": "$l_quantity + $l_linenumber",
            "price_minus_disc": "$l_extendedprice - $l_discount",
            "unit_price": "$l_extendedprice / $l_quantity",
        }

_q(
    "q01_project_arith",
    _spec_query("lineitem", _Q01_SPEC),
    _spec_oracle("lineitem", _Q01_SPEC),
)

_Q02_SPEC = {
            "ok": "$l_orderkey",
            "ln": "$l_linenumber",
            "sq_int": "$l_linenumber ** 2",
            "sq_disc": "$l_discount ** 2",
            "root_price": "$l_extendedprice ** 0.5",
        }

_q(
    "q02_power",
    _spec_query("lineitem", _Q02_SPEC),
    _spec_oracle("lineitem", _Q02_SPEC),
)

_Q03_SPEC = {
            "ok": "$l_orderkey",
            "ln": "$l_linenumber",
            "neg_qty": "-$l_quantity",
            "not_a": "not ($l_returnflag == 'A')",
            "combo": "$l_discount > 0.02 and $l_tax < 0.06 or $l_quantity > 30",
        }

_q(
    "q03_unary_bool",
    _spec_query("lineitem", _Q03_SPEC),
    _spec_oracle("lineitem", _Q03_SPEC),
)

_Q04_SPEC = {
            "ok": "$l_orderkey",
            "ln": "$l_linenumber",
            "gt": "$l_extendedprice > 20000",
            "lt": "$l_discount < 0.05",
            "eq": "$l_returnflag == 'R'",
            "ne": "$l_linestatus != 'O'",
            "ge": "$l_quantity >= 25",
            "le": "$l_tax <= 0.03",
        }

_q(
    "q04_comparisons",
    _spec_query("lineitem", _Q04_SPEC),
    _spec_oracle("lineitem", _Q04_SPEC),
)

_Q05_SPEC = {
            "ok": "$l_orderkey",
            "ln": "$l_linenumber",
            "lo": "min($l_discount, $l_tax, 0.04)",
            "hi": "max($l_discount, $l_tax, 0.04)",
            "avg2": "mean($l_discount, $l_tax)",
        }

_q(
    "q05_minmax_mean",
    _spec_query("lineitem", _Q05_SPEC),
    _spec_oracle("lineitem", _Q05_SPEC),
)

_Q06_SPEC = {
            "ok": "$l_orderkey",
            "ln": "$l_linenumber",
            "maybe_disc": "$l_discount if $l_discount > 0.05",
            "disc_or_tax": "($l_discount if $l_discount > 0.05) ?? $l_tax",
            "bucket": "'high' if $l_extendedprice > 30000 else ('mid' if $l_extendedprice > 10000 else 'low')",
        }

_q(
    "q06_conditional_coalesce",
    _spec_query("lineitem", _Q06_SPEC),
    _spec_oracle("lineitem", _Q06_SPEC),
)

_Q07_SPEC = {
            "ok": "$l_orderkey",
            "ln": "$l_linenumber",
            "qty_int": "$l_quantity::int",
            "qty_long": "$l_quantity::int64",
            "ln_str": "$l_linenumber::str",
            "ln_bool": "($l_linenumber - 1)::bool",
            "roundtrip": "$l_linenumber::str::float64",
            "bad_float": "$l_returnflag::?float64",
        }

_q(
    "q07_casts",
    _spec_query("lineitem", _Q07_SPEC, fan_out=True),
    _spec_oracle("lineitem", _Q07_SPEC),
)

_Q08_SPEC = {
            "ok": "$l_orderkey",
            "ln": "$l_linenumber",
            "yr_date": "(1990 + $l_linenumber)::year",
        }

_q(
    "q08_year_date",
    _spec_query("lineitem", _Q08_SPEC),
    _spec_oracle("lineitem", _Q08_SPEC),
)

_Q09_SPEC = {
            "ok": "$l_orderkey",
            "ln": "$l_linenumber",
            "min_s": "$l_linenumber::minutes::total_seconds",
            "hr_s": "$l_linenumber::hours::total_seconds",
            "wk_d": "$l_linenumber::weeks::total_days",
            "mo_s": "$l_linenumber::months::total_seconds",
            "yr_s": "$l_linenumber::years::total_seconds",
            "ms_us": "$l_linenumber::milliseconds::total_microseconds",
            "us_ns": "$l_linenumber::microseconds::total_nanoseconds",
            "s_ms": "$l_linenumber::seconds::total_milliseconds",
        }

_q(
    "q09_duration_units",
    _spec_query("lineitem", _Q09_SPEC, fan_out=True),
    _spec_oracle("lineitem", _Q09_SPEC),
)

_Q10_SPEC = {
            "ok": "$o_orderkey",
            "y": "$o_orderdate::year_of_date::int64",
            "m": "$o_orderdate::month_of_year::int64",
            "d": "$o_orderdate::day_of_month::int64",
            "dow": "$o_orderdate::day_of_week::int64",
            "doy": "$o_orderdate::day_of_year::int64",
            "woy": "$o_orderdate::week_of_year::int64",
            "q": "$o_orderdate::quarter_of_year::int64",
        }

_q(
    "q10_dt_components",
    _spec_query("orders", _Q10_SPEC),
    _spec_oracle("orders", _Q10_SPEC),
)

_Q11_SPEC = {
            "ev": "$event_id",
            "h": "$ts::hour_of_day::int64",
            "mi": "$ts::minute_of_hour::int64",
            "s": "$ts::second_of_minute::int64",
        }

_q(
    "q11_time_components",
    _spec_query("events", _Q11_SPEC),
    _spec_oracle("events", _Q11_SPEC),
)

_Q12_SPEC = {
            "ok": "$o_orderkey",
            "at_1845": "$o_orderdate @ 18:45",
        }

_q(
    "q12_set_time",
    _spec_query("orders", _Q12_SPEC),
    _spec_oracle("orders", _Q12_SPEC),
)


def _q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    joined = li.join(
        F.broadcast(orders.select("o_orderkey", "o_orderdate")),
        li.l_orderkey == F.col("o_orderkey"),
    )
    spec = {
        "ok": "$l_orderkey",
        "ln": "$l_linenumber",
        "lag_days": "($l_shipdate - $o_orderdate)::total_days",
        "lag_hours": "($l_shipdate - $o_orderdate)::total_hours",
        "lag_minutes": "($l_shipdate - $o_orderdate)::total_minutes",
        "lag_seconds": "($l_shipdate - $o_orderdate)::total_seconds",
        "lag_micros": "($l_shipdate - $o_orderdate)::total_microseconds",
    }
    return Parser.select(joined, spec)


_q(
    "q13_ts_diff_totals",
    _q13,
    """
    SELECT l_orderkey AS ok, l_linenumber AS ln,
           date_diff('microsecond', o_orderdate, l_shipdate) // 86400000000 AS lag_days,
           date_diff('microsecond', o_orderdate, l_shipdate) // 3600000000 AS lag_hours,
           date_diff('microsecond', o_orderdate, l_shipdate) // 60000000 AS lag_minutes,
           date_diff('microsecond', o_orderdate, l_shipdate) // 1000000 AS lag_seconds,
           date_diff('microsecond', o_orderdate, l_shipdate) AS lag_micros
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)

_Q14_SPEC = {
            "ok": "$o_orderkey",
            "due30": "$o_orderdate + 30::days",
            "due_var": "$o_orderdate + ($o_custkey::int)::minutes",
        }

_q(
    "q14_add_duration",
    _spec_query("orders", _Q14_SPEC),
    _spec_oracle("orders", _Q14_SPEC),
)


def _q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    orders = _t(spark, sf_dir, "orders", fan_out=True).withColumns(
        {
            "ds": F.date_format("o_orderdate", "yyyy-MM-dd"),
            "dts": F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        }
    )
    return Parser.select(
        orders,
        {
            "ok": "$o_orderkey",
            "d": "$ds::'%Y-%m-%d'",
            "dt": "$dts::'%Y-%m-%d %H:%M:%S'",
            "bad": "$ds::?'%d/%m/%Y'",
        },
    )


_q(
    "q15_strptime",
    _q15,
    """
    SELECT o_orderkey AS ok,
           CAST(strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS DATE) AS d,
           strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS dt,
           CAST(try_strptime(strftime(o_orderdate, '%Y-%m-%d'), '%d/%m/%Y') AS DATE) AS bad
    FROM orders
    """,
)


def _q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    events = _t(spark, sf_dir, "events").withColumn(
        "ts_s", F.date_format("ts", "HH:mm:ss")
    )
    return Parser.select(
        events,
        {
            "ev": "$event_id",
            "t_us": "$ts_s::'%H:%M:%S'",
            "t_hour": "$ts_s::'%H:%M:%S'::hour_of_day::int64",
        },
    )


_q(
    "q16_time_type",
    _q16,
    """
    SELECT event_id AS ev,
           (hour(ts) * 3600 + minute(ts) * 60 + CAST(FLOOR(second(ts)) AS BIGINT))
             * 1000000 AS t_us,
           hour(ts) AS t_hour
    FROM events
    """,
)

_Q17_SPEC = {
            "pk": "$p_partkey",
            "has_digit": "/[0-9]+/ in $p_name",
            "first_word": "extract /[a-z]+/ from $p_name",
            "brand_num": "extract group 1 of /Brand#([0-9]+)/ from $p_brand",
            "no_match": "extract /[0-9]{5}/ from $p_name",
        }

_q(
    "q17_regex",
    _spec_query("part", _Q17_SPEC),
    _spec_oracle("part", _Q17_SPEC),
)

_Q18_SPEC = {
            "pk": "$p_partkey",
            "s1": "$p_name[0:5]",
            "s2": "$p_name[-3:]",
            "s3": "$p_name[2:-2]",
            "s4": "$p_name[1:]",
            "chain": "$p_name[0:6][1:3]",
            "func": "substring($p_name, 1, 4)",
            "func_long": "substring($p_name, 1, 100)",
        }

_q(
    "q18_substring",
    _spec_query("part", _Q18_SPEC),
    _spec_oracle("part", _Q18_SPEC),
)

_Q19_SPEC = {
            "pk": "$p_partkey",
            "label": 'f"{$p_brand}//{$p_type}"',
            "braced": 'f"{{{$p_brand}}}"',
            "name_len": "len_chars($p_name)::int64",
            "mixed": 'f"{$p_size} x {$p_name}"',
        }

_q(
    "q19_interp_len",
    _spec_query("part", _Q19_SPEC),
    _spec_oracle("part", _Q19_SPEC),
)

def _q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    # split flows through the engine; the array is then projected to a
    # delimited string caller-side because the driver's canonicalizer cannot
    # hash array cells (pandas "unhashable type: list").  Element fidelity is
    # preserved: \x1f cannot appear in the data.
    out = Parser.select(
        _t(spark, sf_dir, "part"),
        {"pk": "$p_partkey", "words": "split($p_name, ' ')"},
    )
    return out.select(
        "pk",
        F.concat_ws("\x1f", "words").alias("words"),
        F.size("words").cast("bigint").alias("n_splits"),
    )


_q(
    "q20_split",
    _q20,
    """
    SELECT p_partkey AS pk,
           array_to_string(string_split(p_name, ' '), chr(31)) AS words,
           CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_splits
    FROM part
    """,
)


def _q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    cust = _t(spark, sf_dir, "customer")
    cols = Parser.to_spark(
        {
            "h": "hash($c_name)",
            "sh": "signed_hash($c_name)",
            "h_null": "hash($c_name if $c_acctbal > 0)",
        },
        schema=cust,
    )
    return cust.select(*cols.values()).agg(
        F.countDistinct("h").alias("n_distinct"),
        F.countDistinct("sh").alias("n_distinct_signed"),
        F.sum(F.col("h_null").isNull().cast("bigint")).alias("n_null_masked"),
    )


_q(
    "q21_hash",
    _q21,
    """
    SELECT COUNT(DISTINCT c_name) AS n_distinct,
           COUNT(DISTINCT c_name) AS n_distinct_signed,
           CAST(SUM(CASE WHEN c_acctbal <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_masked
    FROM customer
    """,
)

_Q22_SPEC = {
            "ok": "$l_orderkey",
            "ln": "$l_linenumber",
            "revenue": "$l_extendedprice * (1 - $l_discount)",
            "bucket": "'high' if $l_extendedprice > 30000 else 'low'",
            "ship_year": "$l_shipdate::year_of_date::int64",
            "flag_code": 'f"{$l_returnflag}//{$l_linestatus}"',
        }

_q(
    "q22_flagship",
    _spec_query("lineitem", _Q22_SPEC),
    _spec_oracle("lineitem", _Q22_SPEC),
)


_q(
    "q23_casts_extended",
    _spec_query(
        "lineitem",
        {
            "ok": "$l_orderkey",
            "ln": "$l_linenumber",
            "u8": "$l_linenumber::uint8",
            "u16": "$l_linenumber::uint16",
            "u32": "$l_quantity::uint32",
            "u64": "$l_linenumber::uint64",
            "i8": "$l_linenumber::int8",
            "i16": "$l_linenumber::int16",
            "i128_str": "$l_linenumber::int128::str",
        },
    ),
    """
    SELECT l_orderkey AS ok, l_linenumber AS ln,
           CAST(l_linenumber AS SMALLINT) AS u8,
           CAST(l_linenumber AS INTEGER) AS u16,
           CAST(TRUNC(l_quantity) AS BIGINT) AS u32,
           CAST(l_linenumber AS BIGINT) AS u64,
           CAST(l_linenumber AS TINYINT) AS i8,
           CAST(l_linenumber AS SMALLINT) AS i16,
           CAST(CAST(l_linenumber AS HUGEINT) AS VARCHAR) AS i128_str
    FROM lineitem
    """,
)


def _q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    # Expression-valued separator and non-constant regex pattern: both reach
    # the engine's column-pattern fallback paths.
    part = _t(spark, sf_dir, "part").withColumns(
        {"sep": F.lit(" "), "pat": F.lit("[a-z]+")}
    )
    out = Parser.select(
        part,
        {
            "pk": "$p_partkey",
            "words": {"split": {"source": {"column": "p_name"}, "by": {"column": "sep"}}},
            "first_word": {
                "regex_extract": {"pattern": {"column": "pat"}, "source": {"column": "p_name"}}
            },
            "has_word": {
                "regex_match": {"pattern": {"column": "pat"}, "source": {"column": "p_name"}}
            },
        },
    )
    # Array → delimited string caller-side (driver canonicalizer can't hash
    # array cells); the split itself still runs through the engine.
    return out.withColumn("words", F.concat_ws("\x1f", "words"))


_q(
    "q24_dynamic_patterns",
    _q24,
    """
    SELECT p_partkey AS pk,
           array_to_string(string_split(p_name, ' '), chr(31)) AS words,
           CASE WHEN regexp_matches(p_name, '[a-z]+')
                THEN regexp_extract(p_name, '[a-z]+') END AS first_word,
           regexp_matches(p_name, '[a-z]+') AS has_word
    FROM part
    """,
)


def _q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ISO-8601 week-date strings built from plain JVM expressions
    # (extract(YEAROFWEEK)/weekofyear/weekday are all ISO in Spark), then
    # parsed back through the engine's %G/%V/%u week plan (chrono.py) —
    # round-trips to o_orderdate iff the ISO arithmetic is exact.
    _prep(spark)
    orders = _t(spark, sf_dir, "orders", fan_out=True).withColumn(
        "iso",
        F.concat(
            F.expr("extract(YEAROFWEEK FROM o_orderdate)").cast("string"),
            F.lit("-W"),
            F.lpad(F.weekofyear("o_orderdate").cast("string"), 2, "0"),
            F.lit("-"),
            (F.weekday("o_orderdate") + F.lit(1)).cast("string"),
        ),
    )
    return Parser.select(
        orders,
        {
            "ok": "$o_orderkey",
            "iso": "$iso",
            "d": "$iso::'%G-W%V-%u'",
            "bad": "$iso::?'%d/%m/%Y'",
        },
    )


_q(
    "q25_iso_week",
    _q25,
    """
    SELECT o_orderkey AS ok,
           strftime(o_orderdate, '%G-W%V-%u') AS iso,
           CAST(strptime(strftime(o_orderdate, '%G-W%V-%u'), '%G-W%V-%u') AS DATE) AS d,
           CAST(try_strptime(strftime(o_orderdate, '%G-W%V-%u'), '%d/%m/%Y') AS DATE) AS bad
    FROM orders
    """,
)


def _q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``TIME(6)`` output (Spark 4.1, ``spark.sql.timeType.enabled``
    set per-session at build time — a SQL conf, so it works on the driver's
    own session).  The engine's tagged micros-long (SURVEY §4.3 #6) converts
    at the output boundary via :mod:`dftly_spark.timetype`; this gates the
    bridge itself against DuckDB's native TIME: second-resolution (``t``),
    microsecond-resolution (``t_frac``), and the TIME→micros round-trip
    (``rt_us``) all hash-match.
    """
    from dftly_spark.timetype import micros_to_time, time_to_micros

    _prep(spark)
    spark.conf.set("spark.sql.timeType.enabled", "true")
    events = _t(spark, sf_dir, "events").withColumn(
        "ts_s", F.date_format("ts", "HH:mm:ss")
    )
    tagged = Parser.select(events, {"ev": "$event_id", "t_us": "$ts_s::'%H:%M:%S'"})
    frac_us = (F.col("t_us") + F.col("ev") % 999_983).cast("bigint") % F.lit(
        86_400_000_000
    )
    return tagged.select(
        "ev",
        "t_us",
        micros_to_time(F.col("t_us")).alias("t"),
        micros_to_time(frac_us).alias("t_frac"),
        time_to_micros(micros_to_time(F.col("t_us"))).alias("rt_us"),
    )


_q(
    "q26_native_time",
    _q26,
    """
    WITH e AS (
      SELECT event_id AS ev,
             (hour(ts) * 3600 + minute(ts) * 60 + CAST(FLOOR(second(ts)) AS BIGINT))
               * 1000000 AS t_us
      FROM events
    )
    SELECT ev, t_us,
           make_time(t_us // 3600000000, (t_us // 60000000) % 60,
                     (t_us % 60000000) / 1000000.0) AS t,
           make_time(((t_us + ev % 999983) % 86400000000) // 3600000000,
                     (((t_us + ev % 999983) % 86400000000) // 60000000) % 60,
                     (((t_us + ev % 999983) % 86400000000) % 60000000) / 1000000.0)
             AS t_frac,
           t_us AS rt_us
    FROM e
    """,
)


# ---------------------------------------------------------------------------
# Extension operators (dedup / similarity / text analysis / multimodal)
# ---------------------------------------------------------------------------

#: Document-frequency cap passed to ngram_jaccard_pairs in x02/x14 and
#: mirrored in the oracle.  A no-op at these scale factors (max DF is 25 at
#: sf0.1) but keeps the hot-shingle guard in the *gated plan*: at web scale a
#: single boilerplate shingle shared by m documents otherwise emits m²/2
#: candidate pairs.
_MAX_DF = 100

#: Shared DuckDB CTE: distinct word-trigram shingle sets per document, the
#: exact mirror of ops.dedup.ngram_jaccard_pairs' shingling (n=3), including
#: the max_df hot-shingle cap (sizes are computed on the *full* sets; capped
#: shingles only reduce shared counts — same as the Spark plan).
_SHINGLE_CTE = rf"""
ws AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
       FROM documents),
idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i FROM ws WHERE len(w) >= 3),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i+2), ' ') AS g FROM idx
  UNION SELECT DISTINCT doc_id, array_to_string(w, ' ') AS g FROM ws WHERE len(w) < 3
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
kept AS (SELECT doc_id, g FROM sh QUALIFY count(*) OVER (PARTITION BY g) <= {_MAX_DF}),
shared AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS s
           FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
"""

_JACCARD_ORACLE = f"""
WITH {_SHINGLE_CTE}
SELECT id_l, id_r, s::DOUBLE / (x.n + y.n - s) AS jaccard
FROM shared JOIN sizes x ON x.doc_id = id_l JOIN sizes y ON y.doc_id = id_r
WHERE s::DOUBLE / (x.n + y.n - s) >= 0.7
"""
