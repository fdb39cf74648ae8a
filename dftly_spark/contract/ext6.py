"""Extension wave 6 (x122-x144): weighted PageRank, media dup pairs,
expect/observed, session windows, agg-spec, fuzzy ER join family,
pareto, calibration, ExactSubstr span dedup + decontamination.

Registers (in order): x122_important_stock, x123_weighted_pagerank,
x124_media_dup_pairs, x125_expect_observed, x126_session_window_spans,
x127_basket_pairs, x128_agg_spec, x129_fuzzy_join, x130_pareto_front,
x131_calibration, x137_windowed_calibration, x132_cheapest_supplier,
x135_waiting_suppliers, x136_fuzzy_best_match, x138_dup_substring_spans,
x139_dedup_substrings, x140_contamination_spans, x141_decontaminate,
x142_dup_spans_char, x143_stream_fuzzy_join, x144_dedup_chars.

Split out of __spark_entry__.py (round 13); registration order is
preserved by dftly_spark/contract/__init__.py importing the waves in
order.  See common.py for the registry and shared fixtures.
"""

from __future__ import annotations

from dftly_spark import Parser
from dftly_spark.sqlgen import exact_sum, portable_round
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .common import _TOK, _docs_tok, _pq_schema, _prep, _q, _t
from .ext4 import _REV_EXPR
from .ext5 import _x122



def _x122_oracle() -> str:
    from dftly_spark.sqlgen import exact_quant_sql

    v = exact_quant_sql("l_extendedprice * l_quantity", scale=100)
    return f"""
    WITH base AS (
      SELECT l_partkey,
             {v}
               AS v
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      WHERE s_nationkey = 1
    ), per_part AS (
      SELECT l_partkey, sum(v) AS pv FROM base GROUP BY l_partkey
    ), tot AS (
      SELECT sum(pv) AS tv, CAST(count(*) AS BIGINT) AS np FROM per_part
    )
    SELECT l_partkey, pv / 100.0 AS part_value
    FROM per_part, tot
    WHERE pv * np > 2 * tv
    """


_q("x122_important_stock", _x122, _x122_oracle)


def _x123(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED PageRank (ops/graph.py pagerank weight=): the x67 trade
    graph with each customer↔supplier edge weighted by how many lineitems
    connect the pair, so heavy trading relationships carry more rank.
    Contributions ship rank·w/out-strength; weights are small INTEGER
    counts, so the per-source strength sum is float-exact regardless of
    partition order (the per-destination sum is order-wobbly at ~1e-15 —
    absorbed by the 1e-6 output rounding, same as x67)."""
    from dftly_spark.ops import pagerank

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    pairs = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("c"),
        (F.col("l_suppkey") * 2 + 1).alias("s"),
        F.lit(1).alias("w"),
    )
    # one weight-1 row per join row in each direction: the operator sums
    # parallel edges, so an edge's weight is its lineitem count
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "w"
    ).unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w"))
    return pagerank(edges, iters=5, damping=0.85, weight="w")


_q(
    "x123_weighted_pagerank",
    _x123,
    """
    WITH pairs AS (
      SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
             CAST(count(*) AS BIGINT) AS w
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2
    ), edges AS (
      SELECT c AS src, s AS dst, w FROM pairs
      UNION ALL SELECT s, c, w FROM pairs
    ), nodes AS (
      SELECT DISTINCT src AS n FROM edges
    ), strength AS (
      SELECT src, CAST(sum(w) AS DOUBLE) AS st FROM edges GROUP BY src
    )
    SELECT n AS node, floor((r) * 1000000 + 0.5) / 1000000 AS rank FROM (
      WITH RECURSIVE pr AS (
        SELECT 0 AS it, n, CAST(1.0 AS DOUBLE) AS r FROM nodes
        UNION ALL
        SELECT pr.it + 1, e.dst AS n,
               (1.0 - 0.85) + 0.85 * sum(pr.r * CAST(e.w AS DOUBLE) / st.st) AS r
        FROM pr JOIN edges e ON pr.n = e.src JOIN strength st ON e.src = st.src
        WHERE pr.it < 5
        GROUP BY pr.it, e.dst
      )
      SELECT * FROM pr WHERE it = 5
    )
    """,
)


def _x124(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup pairs (ops/multimodal.py media_dup_pairs):
    perceptual-hash the fake media payloads, then the SAME pigeonhole
    chunk join text SimHash uses (ops/dedup.py hamming_pairs) finds pairs
    within hamming ≤ 3.  Twenty duplicate payloads are PLANTED (doc_id +
    1_000_000 copies) so the gate has guaranteed collisions at every SF;
    the fake decode is sha256-derived, so DuckDB recomputes the exact
    64-bit fingerprints and finds the pairs by brute force — checking the
    banded join's recall as well as its precision."""
    from dftly_spark.ops import attach_fake_media, media_dup_pairs

    _prep(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    media = attach_fake_media(docs.unionByName(planted), "text")
    return media_dup_pairs(media, "doc_id", max_hamming=3)


_q(
    "x124_media_dup_pairs",
    _x124,
    """
    WITH alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 20
    ), hh AS (
      -- fake decode: 64 pseudo-pixels = sha256(payload) || sha256(reversed)
      -- (documents are pure ASCII, so reverse(text) reverses the bytes)
      SELECT doc_id, sha256(text) || sha256(reverse(text)) AS h FROM alldocs
    ), px AS (
      SELECT doc_id, i,
             ('0x' || substr(h, 2 * i + 1, 2))::INTEGER AS p
      FROM hh, range(64) t(i)
    ), bits AS (
      SELECT doc_id, i, p, sum(p) OVER (PARTITION BY doc_id) AS total
      FROM px
    ), fp AS (
      -- aHash bit i set when pixel > mean (64*p > sum, integer-exact);
      -- signed-64 reconstruction puts bit 63 in as -2^63
      SELECT doc_id,
             CAST(sum(CASE WHEN 64 * p <= total THEN 0
                           WHEN i = 63 THEN -9223372036854775808
                           ELSE (1::BIGINT << i) END) AS BIGINT) AS ahash
      FROM bits GROUP BY doc_id
    ), chunks AS (
      -- hamming_pairs hot-bucket cap mirror (the x04 pattern): nbits=64,
      -- max_hamming=3 -> 4 bands of 16 bits; masking AFTER the shift makes
      -- the arithmetic sign-extension of the signed ahash irrelevant
      SELECT doc_id, band, (ahash >> (band * 16)) & 65535 AS bucket
      FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b
    ), ok AS (
      SELECT band, bucket FROM chunks GROUP BY band, bucket
      HAVING count(*) <= 1000
    )
    SELECT a.doc_id AS id_l, b.doc_id AS id_r,
           CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
      AND EXISTS (
        SELECT 1 FROM chunks ca
        JOIN chunks cb ON cb.doc_id = b.doc_id AND cb.band = ca.band
                      AND cb.bucket = ca.bucket
        JOIN ok ON ok.band = ca.band AND ok.bucket = ca.bucket
        WHERE ca.doc_id = a.doc_id
      )
    """,
)


def _x125(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validate-while-writing quality gate (ops/quality.py expect_observed):
    expectation counters ride the caller's OWN action via df.observe —
    per-task aggregates merged exactly, no second scan (expect() costs
    one).  The action here is a count over documents; the returned frame
    is the ≤3-row report table (report-table-sized createDataFrame, like
    the other model artifacts)."""
    from dftly_spark.ops import expect_observed

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    observed, obs = expect_observed(
        docs,
        [
            {"rule": "not_null", "col": "text"},
            {"rule": "in_range", "col": "n_chars", "min": 1, "max": 5000},
            {"rule": "in_set", "col": "lang", "values": ["en", "de", "fr"]},
        ],
    )
    observed.count()  # the caller's action; metrics piggyback on it
    report = obs.report()
    return spark.createDataFrame(
        report, "rule string, n_rows bigint, n_violations bigint, passed boolean"
    )


_q(
    "x125_expect_observed",
    _x125,
    """
    SELECT 'not_null(text)' AS rule,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(CASE WHEN text IS NULL THEN 1 END), 0) AS BIGINT)
             AS n_violations,
           coalesce(sum(CASE WHEN text IS NULL THEN 1 END), 0) = 0 AS passed
    FROM documents
    UNION ALL
    SELECT 'in_range(n_chars)',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN n_chars < 1 OR n_chars > 5000 THEN 1 END), 0)
             AS BIGINT),
           coalesce(sum(CASE WHEN n_chars < 1 OR n_chars > 5000 THEN 1 END), 0) = 0
    FROM documents
    UNION ALL
    SELECT 'in_set(lang)',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN lang IS NOT NULL
                                   AND lang NOT IN ('en', 'de', 'fr')
                                  THEN 1 END), 0) AS BIGINT),
           coalesce(sum(CASE WHEN lang IS NOT NULL
                              AND lang NOT IN ('en', 'de', 'fr')
                             THEN 1 END), 0) = 0
    FROM documents
    """,
)


def _x126(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (streaming.py session_window_stats):
    per-user activity sessions via Spark's built-in merging
    ``F.session_window`` — the state-store-backed streaming sessionizer,
    here on the batch path the parity tests pin.  Half-open semantics: an
    event at EXACTLY gap distance starts a NEW session (the custom
    ops/sessions.py sessionize keeps it — that `>` variant is x119's
    gate).  One keyed shuffle; the oracle replays gaps-and-islands with
    a `>=` break."""
    from dftly_spark.streaming import session_window_stats

    _prep(spark)
    return session_window_stats(
        _t(spark, sf_dir, "events"), "ts", keys=["user_id"], gap="30 minutes"
    )


_q(
    "x126_session_window_spans",
    _x126,
    """
    WITH marks AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), g AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM g GROUP BY user_id, sid
    """,
)


def _x127(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Groupwise ordered item pairs (ops/assoc.py basket_pairs): the
    basket explode that backs cooccurrence_pmi, source_overlap, and the
    co-purchase edge builds, gated on its raw surface — one row per
    (order, supplier pair).  ONE keyed shuffle collects each order's
    sorted supplier set; two chained generators emit the pairs, each
    intermediate row holding at most one order's array (the self-join
    this replaces shuffled the incidence frame twice); the oracle keeps
    the declarative self-join."""
    from dftly_spark.ops import basket_pairs

    _prep(spark)
    return basket_pairs(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_suppkey"
    ).select(F.col("_g").alias("g"), "item_a", "item_b")


_q(
    "x127_basket_pairs",
    _x127,
    """
    WITH gi AS (
      SELECT DISTINCT l_orderkey AS g, l_suppkey AS i FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_suppkey IS NOT NULL
    )
    SELECT a.g AS g, a.i AS item_a, b.i AS item_b
    FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i
    """,
)


# --- x128: keyed aggregate from ONE shared spec -----------------------------
# The agg-shape twin of the round-7 _spec_query/_spec_oracle pattern: the
# SAME (where, group_by, select) dict drives BOTH the Spark aggregation and
# the DuckDB oracle (sqlgen.agg_oracle_sql), so no scalar — filter, money
# sum, portable-rounded avg, count — is ever hand-mirrored.

_X128_WHERE = "$l_quantity > 25 and $l_discount <= 0.05"
_X128_GROUP = ("l_returnflag", "l_linestatus")
_X128_SELECT = {
    "l_returnflag": ("expr", "$l_returnflag"),
    "l_linestatus": ("expr", "$l_linestatus"),
    "n": ("count", None),
    "n_parts": ("count_distinct", "$l_partkey"),
    "sum_lines": ("sum", "$l_linenumber"),
    "sum_rev": ("exact_sum", _REV_EXPR),
    "avg_disc": ("round6_avg", "$l_discount"),
    "max_qty": ("max", "$l_quantity"),
}


def _agg_spec_query(table, select, where, group_by):
    """Spark side of the shared agg spec: scalars compile through
    Parser.expr_to_spark (the SAME AST sqlgen emits for DuckDB), agg kinds
    map onto the matching Spark functions with the shared exact_sum /
    portable-round conventions."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _prep(spark)
        df = _t(spark, sf_dir, table)
        if where is not None:
            df = df.where(Parser.expr_to_spark(where, schema=df))
        # "expr" entries ARE the group keys: they must lead the select
        # dict and name exactly group_by, in order — agg_oracle_sql groups
        # by group_by and emits dict order, so any mismatch would silently
        # diverge the two sides
        # ValueError, not assert: a mis-ordered spec silently diverges the
        # engine and oracle sides, and assert is stripped under python -O.
        items = list(dict(select).items())
        expr_names = [n for n, (k, _) in items if k == "expr"]
        if tuple(expr_names) != tuple(group_by):
            raise ValueError(
                f"agg spec 'expr' entries {expr_names} must name exactly "
                f"group_by {tuple(group_by)}, in order"
            )
        if not all(k == "expr" for _, (k, _a) in items[: len(expr_names)]):
            raise ValueError(
                "agg spec 'expr' entries must lead the select dict "
                f"(got kinds {[k for _, (k, _a) in items]})"
            )
        keys = [
            Parser.expr_to_spark(arg, schema=df).alias(name)
            for name, (kind, arg) in items
            if kind == "expr"
        ]
        aggs = []
        for name, (kind, arg) in dict(select).items():
            if kind == "expr":
                continue
            col = None if arg is None else Parser.expr_to_spark(arg, schema=df)
            if kind == "count":
                a = F.count(F.lit(1)) if col is None else F.count(col)
            elif kind == "count_distinct":
                a = F.countDistinct(col)
            elif kind == "exact_sum":
                a = exact_sum(col)
            elif kind == "round6_avg":
                a = portable_round(F.avg(col))
            elif kind in ("sum", "min", "max", "avg"):
                a = getattr(F, kind)(col)
            else:
                raise ValueError(f"unknown agg kind {kind!r}")
            aggs.append(a.alias(name))
        return df.groupBy(*keys).agg(*aggs)

    return run


def _x128_oracle() -> str:
    from dftly_spark.sqlgen import agg_oracle_sql

    return agg_oracle_sql(
        "lineitem",
        _X128_SELECT,
        _pq_schema("lineitem"),
        where=_X128_WHERE,
        group_by=_X128_GROUP,
    )


_q(
    "x128_agg_spec",
    _agg_spec_query("lineitem", _X128_SELECT, _X128_WHERE, _X128_GROUP),
    _x128_oracle,
)


# --- x129: fuzzy entity-resolution join (prefix-filter similarity join) ----
# ops/entity.py fuzzy_join: EXACT-threshold cross-table Jaccard join via
# AllPairs/PPJoin prefix filtering (recall 1 by construction, unlike the
# LSH paths).  The synthetic corpus has no natural cross-table near-dups
# (all cross-source jaccards < 0.1), so the query PLANTS the right table
# deterministically — every 3rd document re-ids to +1_000_000 with its
# first 6 words dropped (same construction pattern as x05's planted
# embedding dups) — and the oracle recomputes all qualifying pairs through
# the lossless shared-shingle candidate join (any pair with jaccard >= 0.5
# shares a 3-gram), so it checks the prefix filter's RECALL, not just its
# precision.


def _x129_planted(docs: DataFrame) -> DataFrame:
    """Right side: every 3rd doc, id +1_000_000, first 6 words dropped
    (only docs keeping >= 3 words, so shingle sets stay non-degenerate)."""
    w = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    return (
        docs.where(F.col("doc_id") % 3 == 0)
        .where(F.size(w) > 8)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat_ws(" ", F.slice(w, 7, F.size(w))).alias("text"),
        )
    )


def _x129(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import fuzzy_join

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return fuzzy_join(
        _docs_tok(spark, sf_dir), _x129_planted(docs), "doc_id", "text",
        n=3, threshold=0.5,
        tokens_col_l=_TOK,
    )


_q(
    "x129_fuzzy_join",
    _x129,
    r"""
    WITH lw AS (SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                FROM documents),
    rw AS (SELECT doc_id + 1000000 AS doc_id, list_slice(w, 7, len(w)) AS w
           FROM lw WHERE doc_id % 3 = 0 AND len(w) > 8),
    sides AS (SELECT 'l' AS side, doc_id, w FROM lw
              UNION ALL SELECT 'r', doc_id, w FROM rw),
    idx AS (SELECT side, doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
            FROM sides WHERE len(w) >= 3),
    sh AS (SELECT DISTINCT side, doc_id, array_to_string(list_slice(w, i, i+2), ' ') AS g FROM idx
           UNION SELECT DISTINCT side, doc_id, array_to_string(w, ' ') AS g
                 FROM sides WHERE len(w) < 3),
    sizes AS (SELECT side, doc_id, count(*) AS n FROM sh GROUP BY 1, 2),
    shared AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS s
               FROM sh a JOIN sh b ON a.g = b.g AND a.side = 'l' AND b.side = 'r'
               GROUP BY 1, 2)
    SELECT id_l, id_r, s::DOUBLE / (x.n + y.n - s) AS jaccard
    FROM shared
    JOIN sizes x ON x.side = 'l' AND x.doc_id = id_l
    JOIN sizes y ON y.side = 'r' AND y.doc_id = id_r
    WHERE s::DOUBLE / (x.n + y.n - s) >= 0.5
    """,
)


# --- x130: Pareto frontier (skyline) without the O(n^2) dominance join ----
# ops/profile.py pareto_front: per-returnflag maximize-(quantity, price)
# frontier of lineitem.  The engine's plan is agg-to-distinct-x + cumulative
# window + semi-join back; the oracle is the DEFINITION — NOT EXISTS
# dominance over the per-(group, x) maxima — so the two sides share no
# algorithm, only semantics.


def _x130(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import pareto_front

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return pareto_front(
        li, "l_quantity", "l_extendedprice", by=["l_returnflag"]
    ).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_extendedprice"
    )


_q(
    "x130_pareto_front",
    _x130,
    """
    WITH pts AS (
      SELECT l_returnflag AS g, l_quantity AS x, max(l_extendedprice) AS y
      FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      GROUP BY 1, 2
    ), fr AS (
      SELECT * FROM pts p
      WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE q.g = p.g AND q.x >= p.x AND q.y >= p.y
          AND (q.x > p.x OR q.y > p.y)
      )
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           l.l_quantity, l.l_extendedprice
    FROM lineitem l
    JOIN fr ON l.l_returnflag = fr.g AND l.l_quantity = fr.x
           AND l.l_extendedprice = fr.y
    """,
)


# --- x131: calibration curve (reliability diagram) ------------------------
# ops/quality.py calibration_curve: the rank-free companion to x99's AUC.
# Does event value's magnitude CALIBRATE against the purchase rate?  Bin
# index is one mirrored float expression; mean_score uses the shared
# exact-integer-sum convention (a raw double sum over 600k rows wobbles
# with partition order past 6-decimal rounding); frac_pos is a ratio of
# exact integers.


def _x131(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import calibration_curve

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "value", (F.col("event_type") == "purchase").alias("is_purchase")
    )
    return calibration_curve(
        ev, "value", "is_purchase", bins=20, lo=0.0, hi=500.0
    )


def _x131_oracle() -> str:
    from dftly_spark.sqlgen import exact_sum_sql, portable_round_sql

    mean_s = portable_round_sql(f"({exact_sum_sql('s', scale=10**8)}) / count(*)")
    frac_p = portable_round_sql("CAST(sum(y) AS BIGINT) / count(*)")
    return f"""
    WITH t AS (
      SELECT CAST(value AS DOUBLE) AS s,
             CAST(event_type = 'purchase' AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), b AS (
      SELECT CAST(least(greatest(floor(((s - 0.0) / 500.0) * 20), 0), 19) AS INTEGER) AS bin,
             s, y
      FROM t
    )
    SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
           {mean_s} AS mean_score,
           {frac_p} AS frac_pos
    FROM b GROUP BY bin
    """


_q("x131_calibration", _x131, _x131_oracle)


def _x137(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING calibration twin gated through its bounded-frame
    semantics (dftly_spark/streaming.py windowed_calibration): watermarked
    tumbling windows are a no-op on a bounded frame, so the same code the
    stream runs is driver-checkable — per-(6h-window, bin) counts and the
    exact-convention mean/frac (epoch-aligned windows, mirrored in SQL as
    floor(epoch/21600))."""
    from dftly_spark.streaming import windowed_calibration

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "ts", "value", (F.col("event_type") == "purchase").alias("is_purchase")
    )
    return windowed_calibration(
        ev, "ts", "value", "is_purchase",
        window="6 hours", bins=8, lo=0.0, hi=500.0,
    )


def _x137_oracle() -> str:
    from dftly_spark.sqlgen import exact_sum_sql, portable_round_sql

    mean_s = portable_round_sql(f"({exact_sum_sql('s', scale=10**8)}) / count(*)")
    frac_p = portable_round_sql("CAST(sum(y) AS BIGINT) / count(*)")
    return f"""
    WITH t AS (
      SELECT ts, CAST(value AS DOUBLE) AS s,
             CAST(event_type = 'purchase' AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), b AS (
      SELECT make_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) * 1000000)
               AS window_start,
             CAST(least(greatest(floor(((s - 0.0) / 500.0) * 8), 0), 7) AS INTEGER) AS bin,
             s, y
      FROM t
    )
    SELECT window_start,
           window_start + INTERVAL 6 HOUR AS window_end,
           bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
           {mean_s} AS mean_score,
           {frac_p} AS frac_pos
    FROM b GROUP BY window_start, bin
    """


_q("x137_windowed_calibration", _x137, _x137_oracle)


# --- x132/x135: two more classic warehouse join shapes --------------------
# TPC-H Q2/Q21 analogues reshaped onto this schema (no partsupp or receipt
# dates in the testdata): correlated min-per-group via a part-keyed window,
# and the only-late-supplier double-correlation.  (Q16/Q18 shapes already
# exist as x104/x105 — kept in the sampled window instead of duplicated.)  All joins stay
# UNFORCED equi-joins (AQE broadcasts the dims at test scale, shuffle-hash
# at cluster scale); every scalar hazard is integer-derived or an
# identical-IEEE division.


def _x132(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-style cheapest-supplier-per-part within one region: per-part min
    unit price over the region's offers via a part-keyed window, rows at
    the exact min kept (unit price is one double division — identical
    IEEE bits on both engines, so the equality filter is portable).
    DISTINCT collapses repeat (part, supplier) offers at the same min."""
    _prep(spark)
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    li = _t(spark, sf_dir, "lineitem")
    asia = (
        sup.join(nat, sup["s_nationkey"] == nat["n_nationkey"])
        .join(reg, nat["n_regionkey"] == reg["r_regionkey"])
        .select("s_suppkey", "s_name")
    )
    offers = li.join(asia, li["l_suppkey"] == asia["s_suppkey"]).select(
        F.col("l_partkey").alias("part_key"),
        "s_suppkey",
        "s_name",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("_unit"),
    )
    # min over a WINDOW on the part key, not groupBy-then-join-back: the
    # join formulation lets the optimizer broadcast a part-count-sized
    # aggregate and re-executes the offers subtree for the probe side
    # (the recorded round-8 novelty hazard); the window is one keyed
    # shuffle with no second pass and no broadcast of an unbounded agg
    from pyspark.sql import Window as _W

    w = _W.partitionBy("part_key")
    return (
        offers.withColumn("min_unit_price", F.min("_unit").over(w))
        .where(F.col("_unit") == F.col("min_unit_price"))
        .select("part_key", "s_suppkey", "s_name", "min_unit_price")
        .distinct()
    )


_q(
    "x132_cheapest_supplier",
    _x132,
    """
    WITH offers AS (
      SELECT l_partkey AS part_key, s_suppkey, s_name,
             l_extendedprice / l_quantity AS unit
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    ), m AS (
      SELECT part_key, min(unit) AS min_unit_price FROM offers GROUP BY 1
    )
    SELECT DISTINCT o.part_key, o.s_suppkey, o.s_name, m.min_unit_price
    FROM offers o JOIN m ON o.part_key = m.part_key
                        AND o.unit = m.min_unit_price
    """,
)


def _x135(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-style waiting-suppliers: in orders served by MULTIPLE suppliers,
    count per supplier the orders where THEY shipped late (>90 days after
    the order date) and no other supplier did.  The EXISTS / NOT EXISTS
    double correlation collapses to ONE (order, supplier) aggregation plus
    one per-order aggregation — two keyed shuffles, no correlated re-scans."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    ).cast("int")
    per_so = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select("l_orderkey", "l_suppkey", late.alias("_late"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("_late").alias("_late"))
    )
    per_o = per_so.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_n_supp"), F.sum("_late").alias("_n_late")
    )
    waiting = (
        per_so.where(F.col("_late") == 1)
        .join(
            per_o.where((F.col("_n_supp") > 1) & (F.col("_n_late") == 1)),
            "l_orderkey",
        )
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(sup, waiting["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


_q(
    "x135_waiting_suppliers",
    _x135,
    """
    WITH per_so AS (
      SELECT l_orderkey, l_suppkey,
             max(CAST(l_shipdate > o_orderdate + INTERVAL 90 DAY AS INTEGER)) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ), per_o AS (
      SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late
      FROM per_so GROUP BY 1
    )
    SELECT s_name, count(*) AS numwait
    FROM per_so
    JOIN per_o USING (l_orderkey)
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE per_so.late = 1 AND n_supp > 1 AND n_late = 1
    GROUP BY s_name
    """,
)


def _x136(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuzzy_join's best_match resolution path (ops/entity.py): each left
    document resolved to its single best planted/near-dup right match —
    highest jaccard, lowest id_r tie-break.  Same planted construction as
    x129; the oracle re-ranks the lossless all-pairs set with the
    identical (jaccard DESC, id_r ASC) window, so both the pair recall
    AND the tie-break determinism are gated."""
    from dftly_spark.ops import fuzzy_join

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return fuzzy_join(
        _docs_tok(spark, sf_dir), _x129_planted(docs), "doc_id", "text",
        n=3, threshold=0.5, best_match=True,
        tokens_col_l=_TOK,
    )


_q(
    "x136_fuzzy_best_match",
    _x136,
    r"""
    WITH lw AS (SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                FROM documents),
    rw AS (SELECT doc_id + 1000000 AS doc_id, list_slice(w, 7, len(w)) AS w
           FROM lw WHERE doc_id % 3 = 0 AND len(w) > 8),
    sides AS (SELECT 'l' AS side, doc_id, w FROM lw
              UNION ALL SELECT 'r', doc_id, w FROM rw),
    idx AS (SELECT side, doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
            FROM sides WHERE len(w) >= 3),
    sh AS (SELECT DISTINCT side, doc_id, array_to_string(list_slice(w, i, i+2), ' ') AS g FROM idx
           UNION SELECT DISTINCT side, doc_id, array_to_string(w, ' ') AS g
                 FROM sides WHERE len(w) < 3),
    sizes AS (SELECT side, doc_id, count(*) AS n FROM sh GROUP BY 1, 2),
    shared AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS s
               FROM sh a JOIN sh b ON a.g = b.g AND a.side = 'l' AND b.side = 'r'
               GROUP BY 1, 2),
    pairs AS (
      SELECT id_l, id_r, s::DOUBLE / (x.n + y.n - s) AS jaccard
      FROM shared
      JOIN sizes x ON x.side = 'l' AND x.doc_id = id_l
      JOIN sizes y ON y.side = 'r' AND y.doc_id = id_r
      WHERE s::DOUBLE / (x.n + y.n - s) >= 0.5
    )
    SELECT id_l, id_r, jaccard FROM (
      SELECT id_l, id_r, jaccard,
             row_number() OVER (PARTITION BY id_l ORDER BY jaccard DESC, id_r) AS rk
      FROM pairs
    ) WHERE rk = 1
    """,
)


def _x138(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication spans (ops/textops.py
    dup_substring_spans): maximal verbatim token runs >= 20 tokens
    occurring >= 2 times corpus-wide by OCCURRENCE count (within-document
    repeats included — the Lee et al. ExactSubstr semantics, vs x32/x37's
    distinct-document df).  The oracle replays the L-gram counting +
    gaps-and-islands run chaining literally in SQL; output is all-integer
    (positions and lengths), so there is no cross-engine float surface."""
    from dftly_spark.ops import dup_substring_spans

    _prep(spark)
    return dup_substring_spans(
        _docs_tok(spark, sf_dir),
        "doc_id",
        "text",
        min_len=20,
        min_count=2,
        tokens_col=_TOK,
    )


_q(
    "x138_dup_substring_spans",
    _x138,
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), inst AS (
      SELECT doc_id, p, array_to_string(list_slice(w, p, p + 19), ' ') AS g
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 19)) AS p
            FROM base WHERE len(w) >= 20)
    ), flagged AS (
      SELECT g FROM inst GROUP BY g HAVING count(*) >= 2
    ), starts AS (
      SELECT doc_id, p FROM inst JOIN flagged USING (g)
    ), runs AS (
      SELECT doc_id, p,
             CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
                       OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 20
                  THEN 1 ELSE 0 END AS nr
      FROM starts
    ), rid AS (
      SELECT doc_id, p,
             SUM(nr) OVER (PARTITION BY doc_id ORDER BY p) AS run
      FROM runs
    )
    SELECT doc_id,
           MIN(p) - 1 AS span_start,
           MAX(p) + 18 AS span_end,
           MAX(p) - MIN(p) + 20 AS span_tokens
    FROM rid GROUP BY doc_id, run
    """,
)


def _x139(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal transform over x138's spans (dedup_substring_spans):
    every token inside a maximal >= 20-token duplicated run is cut and
    the survivors rejoin in order — the ExactSubstr training-data dedup
    treatment at arbitrary L, exact by the L-gram-coverage equivalence
    (see the op docstring)."""
    from dftly_spark.ops import dedup_substring_spans

    _prep(spark)
    return dedup_substring_spans(
        _docs_tok(spark, sf_dir, fan_out=True),
        "doc_id",
        "text",
        min_len=20,
        min_count=2,
        tokens_col=_TOK,
    )


_q(
    "x139_dedup_substrings",
    _x139,
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), tok AS (
      SELECT doc_id, p, w[p] AS t
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p FROM base)
    ), inst AS (
      SELECT doc_id, p, array_to_string(list_slice(w, p, p + 19), ' ') AS g
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 19)) AS p
            FROM base WHERE len(w) >= 20)
    ), flagged AS (
      SELECT g FROM inst GROUP BY g HAVING count(*) >= 2
    ), starts AS (
      SELECT doc_id, p FROM inst JOIN flagged USING (g)
    ), runs AS (
      SELECT doc_id, p,
             CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
                       OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 20
                  THEN 1 ELSE 0 END AS nr
      FROM starts
    ), rid AS (
      SELECT doc_id, p,
             SUM(nr) OVER (PARTITION BY doc_id ORDER BY p) AS run
      FROM runs
    ), spans AS (
      SELECT doc_id, MIN(p) AS lo, MAX(p) + 19 AS hi FROM rid GROUP BY doc_id, run
    ), cov AS (
      SELECT doc_id, unnest(generate_series(lo, hi)) AS p FROM spans
    ), marked AS (
      SELECT tok.doc_id, tok.p, tok.t, cov.p IS NOT NULL AS c
      FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
    )
    SELECT doc_id,
           COALESCE(string_agg(t, ' ' ORDER BY p) FILTER (WHERE NOT c), '') AS clean_text,
           CAST(SUM(CASE WHEN NOT c THEN 1 ELSE 0 END) AS BIGINT) AS n_tokens_kept,
           CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n_tokens_removed
    FROM marked
    GROUP BY doc_id
    """,
)


def _x140_probe(docs: DataFrame) -> DataFrame:
    """Probe (benchmark/test-set) corpus: every 5th doc's normalized
    tokens 7..31 (25 tokens — enough to carry 20-grams), id +2M.  Each
    probe string is verbatim-present in its source doc by construction,
    so the decontamination surface is non-trivially exercised at both
    SFs (plus corpus-duplicate hits of the same windows)."""
    w = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    return (
        docs.where(F.col("doc_id") % 5 == 0)
        .where(F.size(w) >= 31)
        .select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat_ws(" ", F.slice(w, 7, 25)).alias("text"),
        )
    )


def _x140(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus exact-substring decontamination spans
    (ops/textops.py contamination_spans): maximal runs >= 20 tokens of
    the documents corpus that appear verbatim anywhere in the probe
    corpus — the span-precise, arbitrary-L upgrade of x35's fixed-n
    whole-document containment."""
    from dftly_spark.ops import contamination_spans

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return contamination_spans(
        _docs_tok(spark, sf_dir),
        _x140_probe(docs),
        "doc_id",
        "text",
        min_len=20,
        tokens_col=_TOK,
    )


_X140_SPANS_SQL = r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), probe AS (
      SELECT list_slice(w, 7, 31) AS w FROM base
      WHERE doc_id % 5 = 0 AND len(w) >= 31
    ), pinst AS (
      SELECT DISTINCT array_to_string(list_slice(w, p, p + 19), ' ') AS g
      FROM (SELECT w, unnest(generate_series(1, len(w) - 19)) AS p FROM probe)
    ), inst AS (
      SELECT doc_id, p, array_to_string(list_slice(w, p, p + 19), ' ') AS g
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 19)) AS p
            FROM base WHERE len(w) >= 20)
    ), starts AS (
      SELECT doc_id, p FROM inst WHERE g IN (SELECT g FROM pinst)
    ), runs AS (
      SELECT doc_id, p,
             CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
                       OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 20
                  THEN 1 ELSE 0 END AS nr
      FROM starts
    ), rid AS (
      SELECT doc_id, p,
             SUM(nr) OVER (PARTITION BY doc_id ORDER BY p) AS run
      FROM runs
    )
"""

_q(
    "x140_contamination_spans",
    _x140,
    _X140_SPANS_SQL
    + """
    SELECT doc_id,
           MIN(p) - 1 AS span_start,
           MAX(p) + 18 AS span_end,
           MAX(p) - MIN(p) + 20 AS span_tokens
    FROM rid GROUP BY doc_id, run
    """,
)


def _x141(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal transform over x140's spans (decontaminate_substrings):
    every probe-shared >= 20-token run is cut and survivors rejoin in
    order; untouched documents pass through whole."""
    from dftly_spark.ops import decontaminate_substrings

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return decontaminate_substrings(
        _docs_tok(spark, sf_dir),
        _x140_probe(docs),
        "doc_id",
        "text",
        min_len=20,
        tokens_col=_TOK,
    )


_q(
    "x141_decontaminate",
    _x141,
    _X140_SPANS_SQL
    + """
    , spans AS (
      SELECT doc_id, MIN(p) AS lo, MAX(p) + 19 AS hi FROM rid GROUP BY doc_id, run
    ), cov AS (
      SELECT doc_id, unnest(generate_series(lo, hi)) AS p FROM spans
    ), tok AS (
      SELECT doc_id, p, w[p] AS t
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p FROM base)
    ), marked AS (
      SELECT tok.doc_id, tok.p, tok.t, cov.p IS NOT NULL AS c
      FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
    )
    SELECT doc_id,
           COALESCE(string_agg(t, ' ' ORDER BY p) FILTER (WHERE NOT c), '') AS clean_text,
           CAST(SUM(CASE WHEN NOT c THEN 1 ELSE 0 END) AS BIGINT) AS n_tokens_kept,
           CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n_tokens_removed
    FROM marked
    GROUP BY doc_id
    """,
)


def _x142(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x138's duplicated-run spans mapped to CHAR offsets in the ORIGINAL
    document text (dup_substring_spans offsets="char"): Lee et al.'s
    ExactSubstr removal operates on raw bytes, so span removal has to
    address the un-normalized text.  char_start inclusive / char_end
    exclusive; the oracle replays the whitespace-structure arithmetic
    (two regex splits + one per-document integer cumsum window) exactly —
    the split empty-element conventions agree between engines (probed:
    Java split(-1) and RE2 regexp_split_to_array both yield
    ["", ws_1, ..., ""] for the \\S+ split of trimmed text)."""
    from dftly_spark.ops import dup_substring_spans

    _prep(spark)
    return dup_substring_spans(
        _docs_tok(spark, sf_dir),
        "doc_id",
        "text",
        min_len=20,
        min_count=2,
        tokens_col=_TOK,
        offsets="char",
    )


_q(
    "x142_dup_spans_char",
    _x142,
    # lazy: _X142_SPANS_SQL is defined later in the module (with x144,
    # which shares the whole span+offset CTE chain)
    lambda: _X142_SPANS_SQL
    + "SELECT doc_id, char_start, char_end, span_tokens FROM cspans",
)


def _x143(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING fuzzy-ER ingest path gated through bounded-frame
    semantics (dftly_spark/streaming.py stream_fuzzy_join — the x137
    treatment): every op in the plan is stream-legal AND batch-legal, so
    the exact code a micro-batch runs is driver-checkable against the
    x129 jaccard oracle.  The corpus indexes via fuzzy_index (prefix
    postings + full hash sets, build params embedded and validated); the
    x129 planted probes arrive as the \"stream\" side; qualifying pairs
    emit as (new_id, corpus_id, jaccard) with the same exact-recall
    prefix/length/positional filters as batch fuzzy_join.  The
    documented downstream dedup (a pair re-emits once per shared prefix
    hash, identical jaccard) is dropDuplicates on the pair key here —
    the bounded twin of dropDuplicatesWithinWatermark in the unbounded
    wiring.  jaccard is one int/int division: IEEE-identical bits on
    both engines."""
    from dftly_spark.ops import fuzzy_index
    from dftly_spark.streaming import stream_fuzzy_join

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    prefix, sets = fuzzy_index(
        _docs_tok(spark, sf_dir), "doc_id", "text", n=3, threshold=0.5,
        tokens_col=_TOK,
    )
    out = stream_fuzzy_join(
        _x129_planted(docs), prefix, sets, "doc_id", "text",
        n=3, threshold=0.5,
    )
    return out.dropDuplicates(["new_id", "corpus_id"])


_q(
    "x143_stream_fuzzy_join",
    _x143,
    r"""
    WITH lw AS (SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                FROM documents),
    rw AS (SELECT doc_id + 1000000 AS doc_id, list_slice(w, 7, len(w)) AS w
           FROM lw WHERE doc_id % 3 = 0 AND len(w) > 8),
    sides AS (SELECT 'l' AS side, doc_id, w FROM lw
              UNION ALL SELECT 'r', doc_id, w FROM rw),
    idx AS (SELECT side, doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
            FROM sides WHERE len(w) >= 3),
    sh AS (SELECT DISTINCT side, doc_id, array_to_string(list_slice(w, i, i+2), ' ') AS g FROM idx
           UNION SELECT DISTINCT side, doc_id, array_to_string(w, ' ') AS g
                 FROM sides WHERE len(w) < 3),
    sizes AS (SELECT side, doc_id, count(*) AS n FROM sh GROUP BY 1, 2),
    shared AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS s
               FROM sh a JOIN sh b ON a.g = b.g AND a.side = 'l' AND b.side = 'r'
               GROUP BY 1, 2)
    SELECT id_r AS new_id, id_l AS corpus_id,
           s::DOUBLE / (x.n + y.n - s) AS jaccard
    FROM shared
    JOIN sizes x ON x.side = 'l' AND x.doc_id = id_l
    JOIN sizes y ON y.side = 'r' AND y.doc_id = id_r
    WHERE s::DOUBLE / (x.n + y.n - s) >= 0.5
    """,
)


def _x144(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-text duplicated-run removal (dedup_substrings_char): the char
    spans of x142 CUT OUT of the ORIGINAL document text — casing and
    whitespace outside the ranges untouched, the actual Lee et al.
    ExactSubstr deliverable (they remove bytes from the raw corpus, not
    from a normalized token stream).  Kept segments fall out of one
    per-document lag window over the span rows plus a tail segment; the
    oracle replays the identical segment arithmetic and string_agg
    rebuild."""
    from dftly_spark.ops import dedup_substrings_char

    _prep(spark)
    return dedup_substrings_char(
        _docs_tok(spark, sf_dir),
        "doc_id",
        "text",
        min_len=20,
        min_count=2,
        tokens_col=_TOK,
    )


_X142_SPANS_SQL = r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), inst AS (
      SELECT doc_id, p, array_to_string(list_slice(w, p, p + 19), ' ') AS g
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 19)) AS p
            FROM base WHERE len(w) >= 20)
    ), flagged AS (
      SELECT g FROM inst GROUP BY g HAVING count(*) >= 2
    ), starts AS (
      SELECT doc_id, p FROM inst JOIN flagged USING (g)
    ), runs AS (
      SELECT doc_id, p,
             CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
                       OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 20
                  THEN 1 ELSE 0 END AS nr
      FROM starts
    ), rid AS (
      SELECT doc_id, p,
             SUM(nr) OVER (PARTITION BY doc_id ORDER BY p) AS run
      FROM runs
    ), spans AS (
      SELECT doc_id,
             MIN(p) - 1 AS span_start,
             MAX(p) + 18 AS span_end,
             MAX(p) - MIN(p) + 20 AS span_tokens
      FROM rid GROUP BY doc_id, run
    ), pre AS (
      SELECT doc_id,
             length(text) - length(regexp_replace(text, '^\s+', '')) AS lead,
             regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS k,
             regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\S+') AS ws
      FROM documents WHERE length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0
    ), offs AS (
      SELECT doc_id,
             p1 - 1 AS p,
             lead
               + SUM(length(ws[p1]) + length(k[p1]))
                   OVER (PARTITION BY doc_id ORDER BY p1)
               - length(k[p1]) AS cs,
             length(k[p1]) AS tl
      FROM (SELECT doc_id, lead, k, ws,
                   unnest(generate_series(1, len(k))) AS p1
            FROM pre)
    ), cspans AS (
      SELECT s.doc_id,
             CAST(o1.cs AS BIGINT) AS char_start,
             CAST(o2.cs + o2.tl AS BIGINT) AS char_end,
             s.span_tokens
      FROM spans s
      JOIN offs o1 ON s.doc_id = o1.doc_id AND o1.p = s.span_start
      JOIN offs o2 ON s.doc_id = o2.doc_id AND o2.p = s.span_end
    )
"""


_q(
    "x144_dedup_chars",
    _x144,
    _X142_SPANS_SQL
    + r"""
    , segs AS (
      SELECT doc_id,
             COALESCE(lag(char_end) OVER (PARTITION BY doc_id ORDER BY char_start), 0) AS seg_start,
             char_start AS seg_end,
             char_end - char_start AS cut
      FROM cspans
      UNION ALL
      SELECT c.doc_id, MAX(c.char_end), length(d.text), 0
      FROM cspans c JOIN documents d USING (doc_id)
      GROUP BY c.doc_id, length(d.text)
    ), rebuilt AS (
      SELECT s.doc_id,
             string_agg(substr(d.text, CAST(s.seg_start + 1 AS BIGINT),
                               CAST(s.seg_end - s.seg_start AS BIGINT)),
                        '' ORDER BY s.seg_start) AS clean_text,
             CAST(SUM(s.cut) AS BIGINT) AS n_chars_removed
      FROM segs s JOIN documents d USING (doc_id)
      GROUP BY s.doc_id
    ), untouched AS (
      SELECT doc_id, text AS clean_text, CAST(0 AS BIGINT) AS n_chars_removed
      FROM documents
      WHERE length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0
        AND doc_id NOT IN (SELECT doc_id FROM cspans)
    )
    SELECT * FROM rebuilt UNION ALL SELECT * FROM untouched
    """,
)
