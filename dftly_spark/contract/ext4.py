"""Extension wave 4 (x78-x96 + q27-q30): melt, line filter, PMI, sketches,
windowed stats, edit distance, quantization, TPC-H Q1/Q5 shapes, URL
canonicalization, and the machine-generated sqlgen/chrono oracles.

Registers (in order): x78_melt_lineitem, x79_line_filter, x80_basket_pmi,
x81_distinct_counts, x82_group_quantiles, x83_windowed_heavy_hitters,
x84_windowed_cardinality, x85_ewma, x86_edit_distance_pairs,
x87_mad_outliers, x88_quantization_fidelity, x89_pricing_summary,
x90_regional_revenue, x91_nearest_join, x92_doc_keywords, x93_debounce,
x94_expectations, x95_url_canonical_dedup, q27_sqlgen_oracle,
q28_chrono_residue, q29_sqlgen_arrays, q30_chrono_midformat,
x96_windowed_quantiles.

Split out of __spark_entry__.py (round 13); registration order is
preserved by dftly_spark/contract/__init__.py importing the waves in
order.  See common.py for the registry and shared fixtures.
"""

from __future__ import annotations

from dftly_spark import Parser
from dftly_spark.sqlgen import exact_sum, portable_round
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .common import _TOK, _docs_tok, _pq_schema, _prep, _q, _spec_query, _t



def _x78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-form metric table (ops/reshape.py melt): unpivot four lineitem
    metrics into (variable, value) rows.  Row-local Expand — each input
    row fans out inside its task, no shuffle."""
    from dftly_spark.ops import melt

    _prep(spark)
    return melt(
        _t(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


_q(
    "x78_melt_lineitem",
    _x78,
    " UNION ALL ".join(
        f"SELECT l_orderkey, l_linenumber, '{c}' AS variable, "
        f"CAST({c} AS DOUBLE) AS value FROM lineitem"
        for c in ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    ),
)


def _x79(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (ops/textops.py line_filter).  The
    synthetic corpus has no newlines, so the query derives deterministic
    multi-line documents first (every ' value ' becomes a line break —
    same regexp_replace in the oracle), then applies the C4 rules:
    ≥3 words per line, no banned substring, ≥2 surviving lines per doc.
    Entirely row-local higher-order array functions — one scan, no
    shuffle."""
    from dftly_spark.ops import line_filter

    _prep(spark)
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.regexp_replace(F.col("text"), " value ", "\n")
    )
    return line_filter(
        docs, min_words=3, banned=("slow",), min_lines_kept=2
    )


_q(
    "x79_line_filter",
    _x79,
    """
    WITH ml AS (
      SELECT doc_id,
             string_split(regexp_replace(text, ' value ', chr(10), 'g'),
                          chr(10)) AS lines
      FROM documents
    ), f AS (
      SELECT doc_id,
             list_filter(lines,
               x -> len(list_filter(string_split_regex(x, '\\s+'),
                                    w -> w <> '')) >= 3
                    AND NOT contains(lower(x), 'slow')) AS kept,
             len(lines) AS n_lines
      FROM ml
    )
    SELECT doc_id, array_to_string(kept, chr(10)) AS text,
           CAST(len(kept) AS INT) AS n_lines_kept,
           CAST(n_lines - len(kept) AS INT) AS n_lines_dropped
    FROM f WHERE len(kept) >= 2
    """,
)


def _x80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association (ops/assoc.py cooccurrence_pmi): which
    suppliers co-occur in the same order, with support/lift/PMI.  Distinct
    (order, supplier) first (one keyed shuffle); pair emit is the basket
    explode (basket_pairs: collect each order's sorted supplier set, two
    chained generators — no self-join) — per-order work C(items,2),
    bounded by order size (≤7 here; ``max_items_per_group`` caps monster
    groups at scale); the 1-row group total attaches via the sanctioned
    scalar-broadcast pattern (plan-sweep allowlisted, like bm25's corpus
    stats)."""
    from dftly_spark.ops import cooccurrence_pmi

    _prep(spark)
    return cooccurrence_pmi(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_suppkey",
        min_pair_count=2,
    )


_q(
    "x80_basket_pmi",
    _x80,
    """
    WITH gi AS (
      SELECT DISTINCT l_orderkey AS g, l_suppkey AS i FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_suppkey IS NOT NULL
    ), ic AS (
      SELECT i, CAST(count(*) AS BIGINT) AS n FROM gi GROUP BY i
    ), ng AS (
      SELECT CAST(count(DISTINCT g) AS DOUBLE) AS n FROM gi
    ), p AS (
      SELECT a.i AS item_a, b.i AS item_b, CAST(count(*) AS BIGINT) AS n_both
      FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i
      GROUP BY a.i, b.i
      HAVING count(*) >= 2
    )
    SELECT p.item_a, p.item_b, p.n_both, ca.n AS n_a, cb.n AS n_b,
           floor((p.n_both / ng.n) * 1000000 + 0.5) / 1000000 AS support,
           floor((p.n_both * ng.n / (ca.n * cb.n)) * 1000000 + 0.5) / 1000000 AS lift,
           floor((ln(p.n_both * ng.n / (ca.n * cb.n))) * 1000000 + 0.5) / 1000000 AS pmi
    FROM p
    JOIN ic ca ON ca.i = p.item_a
    JOIN ic cb ON cb.i = p.item_b
    CROSS JOIN ng
    """,
)


def _x81(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality accounting (ops/profile.py distinct_counts, exact
    mode): distinct users and distinct active days per event type — ONE
    Expand + keyed aggregation with partial distinct.  The HLL++ twin
    (``approx=True``) is the 100 TB default (mergeable sketches, shuffle
    independent of value cardinality); its estimates are engine-specific,
    so tests pin its relative error against this exact plan instead
    (tests/test_analytics_ops.py)."""
    from dftly_spark.ops import distinct_counts

    _prep(spark)
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.to_date(F.col("ts"))
    )
    return distinct_counts(ev, "event_type", ["user_id", "day"])


_q(
    "x81_distinct_counts",
    _x81,
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS nd_user_id,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS nd_day
    FROM events GROUP BY event_type
    """,
)


def _x82(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped distribution profile (ops/profile.py quantile_stats with
    ``by=``): p50/p90/p99 of event value per type.  Exact ``percentile``
    (linear interpolation ≡ ANSI quantile_cont); rounded to 6 because the
    interpolation arithmetic on doubles differs in the last bits across
    engines.  x27 gates the global path; this gates the grouped one."""
    from dftly_spark.ops import quantile_stats

    _prep(spark)
    qs = quantile_stats(
        _t(spark, sf_dir, "events"), "value", by="event_type",
        probs=(0.5, 0.9, 0.99),
    )
    return qs.select(
        "event_type", "n", portable_round(F.col("mean"), 6).alias("mean"),
        *[portable_round(F.col(c), 6).alias(c) for c in ("q50", "q90", "q99")],
    )


_q(
    "x82_group_quantiles",
    _x82,
    """
    SELECT event_type, CAST(count(value) AS BIGINT) AS n,
           floor((avg(value)) * 1000000 + 0.5) / 1000000 AS mean,
           floor((quantile_cont(value, 0.5)) * 1000000 + 0.5) / 1000000 AS q50,
           floor((quantile_cont(value, 0.9)) * 1000000 + 0.5) / 1000000 AS q90,
           floor((quantile_cont(value, 0.99)) * 1000000 + 0.5) / 1000000 AS q99
    FROM events GROUP BY event_type
    """,
)


def _x83(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window heavy hitters (streaming.py windowed_heavy_hitters,
    gated on batch — the support-threshold path is the stream-safe one;
    ``top_k`` ranks the finished windows, count desc / user asc tiebreak).
    ONE windowed keyed agg + a rank over ≤ distinct-keys rows per
    window."""
    from dftly_spark.streaming import windowed_heavy_hitters

    _prep(spark)
    hh = windowed_heavy_hitters(
        _t(spark, sf_dir, "events"), "ts", "user_id",
        window="1 hour", min_count=2, top_k=5,
    )
    return hh.select(
        F.unix_micros("window_start").alias("start_us"),
        "user_id", "n", "rank",
    )


_q(
    "x83_windowed_heavy_hitters",
    _x83,
    """
    WITH e AS (
      SELECT user_id,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0) AS BIGINT)
               * 3600000000 AS start_us
      FROM events
    ), c AS (
      SELECT start_us, user_id, CAST(count(*) AS BIGINT) AS n
      FROM e GROUP BY start_us, user_id
      HAVING count(*) >= 2
    ), r AS (
      SELECT start_us, user_id, n,
             CAST(row_number() OVER (PARTITION BY start_us
                                     ORDER BY n DESC, user_id) AS INT) AS rank
      FROM c
    )
    SELECT start_us, user_id, n, rank FROM r WHERE rank <= 5
    """,
)


def _x84(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window cardinality (streaming.py windowed_cardinality, exact
    batch mode — the streaming twin auto-selects HLL++, whose batch/stream
    value parity is pinned in tests/test_streaming.py)."""
    from dftly_spark.streaming import windowed_cardinality

    _prep(spark)
    wc = windowed_cardinality(
        _t(spark, sf_dir, "events"), "ts", "user_id",
        keys=["event_type"], window="1 hour",
    )
    return wc.select(
        F.unix_micros("window_start").alias("start_us"),
        "event_type", "n_rows", "nd_user_id",
    )


_q(
    "x84_windowed_cardinality",
    _x84,
    """
    WITH e AS (
      SELECT event_type, user_id,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0) AS BIGINT)
               * 3600000000 AS start_us
      FROM events
    )
    SELECT start_us, event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS nd_user_id
    FROM e GROUP BY start_us, event_type
    """,
)


def _x85(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (ops/profile.py ewma): the recursive
    smoother evaluated exactly over each row's last-20 window via
    collect_list + higher-order aggregate fold — a codegen'd left fold,
    no UDF, ONE keyed window shuffle.  DuckDB replays the identical fold
    with list_reduce."""
    from dftly_spark.ops import ewma

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    return ewma(
        ev, "user_id", ["ts_us", "event_id"], "value",
        alpha=0.3, lookback=20,
    )


_q(
    "x85_ewma",
    _x85,
    """
    WITH e AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
      FROM events
    ), w AS (
      SELECT event_id, user_id, ts_us, value,
             list_filter(array_agg(CAST(value AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
               x -> x IS NOT NULL) AS xs
      FROM e
    )
    SELECT event_id, user_id, ts_us, value,
           CASE WHEN len(xs) = 0 THEN NULL
                ELSE floor(CAST(list_reduce(xs, (acc, x) -> 0.3*x + 0.7*acc)
                           AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
           END AS ewma
    FROM w
    """,
)


def _x86(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Short-string near-dup via SymSpell deletion-neighborhood join
    (ops/dedup.py edit_distance_pairs): every string emits its ≤2-deletion
    neighborhood, candidates equi-join on an 8-byte variant hash (linear,
    never all-pairs), then the real levenshtein verifies.  The oracle IS
    the all-pairs join — affordable at gate scale, which is exactly why
    the neighborhood join must reproduce it bit-for-bit."""
    from dftly_spark.ops import edit_distance_pairs

    _prep(spark)
    names = (
        _t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("nid"))
    )
    return edit_distance_pairs(names, "nid", "p_name", max_dist=2)


_q(
    "x86_edit_distance_pairs",
    _x86,
    """
    WITH n AS (
      SELECT p_name, min(p_partkey) AS nid FROM part GROUP BY p_name
    )
    SELECT a.nid AS id_l, b.nid AS id_r,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM n a JOIN n b
      ON a.nid < b.nid AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
    """,
)


def _x87(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier flags (ops/profile.py mad_outliers): median
    + MAD from two exact-percentile aggs broadcast back; score =
    (x − med) / (1.4826·MAD).  Order-free (no window), heavy-tail-safe —
    the batch complement to rolling_zscore."""
    from dftly_spark.ops import mad_outliers

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return mad_outliers(ev, "event_type", "value", k=3.5)


_q(
    "x87_mad_outliers",
    _x87,
    """
    WITH m AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), d AS (
      SELECT e.event_id, e.event_type, e.value, m.med
      FROM events e JOIN m USING (event_type)
    ), md AS (
      SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
      FROM d GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, d.value,
           floor((CASE WHEN md.mad > 0
                      THEN (d.value - d.med) / (1.4826 * md.mad) END) * 1000000 + 0.5) / 1000000
             AS mad_score,
           coalesce(abs(CASE WHEN md.mad > 0
                             THEN floor(((d.value - d.med) / (1.4826 * md.mad)) * 1000000 + 0.5) / 1000000
                        END) > 3.5, false) AS is_outlier
    FROM d JOIN md USING (event_type)
    """,
)


def _x88(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization fidelity audit (ops/similarity.py): per-dim
    min/max codebook from ONE agg pass (2·dim collected doubles — the
    sanctioned bounded plan-build action), int8 encode + decode as
    row-local zip_with transforms against literal codebook arrays, and
    the per-vector reconstruction cosine.  The first rung of the ANN
    memory ladder: 4× smaller embedding store, fidelity measured before
    committing."""
    from dftly_spark.ops import fit_scalar_quantizer, quantization_fidelity

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    mins, maxs = fit_scalar_quantizer(emb, "embedding", dim=64)
    return quantization_fidelity(emb, "vec_id", "embedding", mins, maxs, bits=8)


_X88_ORACLE_CACHE: dict[str, str] = {}


def _x88_oracle() -> str:
    """DuckDB mirror with an INDEPENDENTLY fitted codebook: per-dim
    min/max re-computed in numpy from the same parquet (exact — min/max
    have no summation-order wobble), inlined as literals; encode, decode
    and cosine replay in DuckDB list lambdas with the identical
    floor(+0.5) convention."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    sf_dir = os.environ.get("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01")
    if sf_dir in _X88_ORACLE_CACHE:
        return _X88_ORACLE_CACHE[sf_dir]
    vecs = np.array(
        pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])[
            "embedding"
        ].to_pylist(),
        dtype=np.float64,
    )
    mins, maxs = vecs.min(axis=0), vecs.max(axis=0)
    levels = 255
    scales = np.where(maxs > mins, levels / np.where(maxs > mins, maxs - mins, 1.0), 0.0)
    invs = np.where(maxs > mins, np.where(maxs > mins, maxs - mins, 1.0) / levels, 0.0)
    lit = lambda xs: "[" + ", ".join(repr(float(x)) for x in xs) + "]"
    dim = vecs.shape[1]
    sql = f"""
    WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id, v,
      list_transform(range(1, {dim + 1}), i ->
        least(greatest(CAST(floor((v[i] - ({lit(mins)})[i])
                             * ({lit(scales)})[i] + 0.5) AS INT), 0),
              {levels})) AS codes
      FROM p),
    d AS (SELECT vec_id, v,
      list_transform(range(1, {dim + 1}), i ->
        codes[i] * ({lit(invs)})[i] + ({lit(mins)})[i]) AS dq
      FROM c)
    SELECT vec_id,
           floor((CASE WHEN sqrt(list_dot_product(v, v))
                           * sqrt(list_dot_product(dq, dq)) > 0
                      THEN list_dot_product(v, dq)
                           / (sqrt(list_dot_product(v, v))
                              * sqrt(list_dot_product(dq, dq))) END) * 1000000 + 0.5) / 1000000 AS recon_cos
    FROM d
    """
    _X88_ORACLE_CACHE[sf_dir] = sql
    return sql


_q("x88_quantization_fidelity", _x88, _x88_oracle)


# ONE definition of the discounted-revenue scalars, consumed by BOTH
# engines (round 7): the Spark builders lower them via Parser.expr_to_spark
# and the oracles emit them via sqlgen.to_duckdb_sql — paired with the
# exact_sum/exact_quant convention helpers from dftly_spark.sqlgen, so the
# money arithmetic and the integer-scaling convention each live in exactly
# one place instead of 17 hand-mirrored copies.
_REV_EXPR = "$l_extendedprice * (1 - $l_discount)"
_CHARGE_EXPR = "$l_extendedprice * (1 - $l_discount) * (1 + $l_tax)"


def _rev_col(df: DataFrame):
    return Parser.expr_to_spark(_REV_EXPR, schema=df)


def _rev_sql() -> str:
    from dftly_spark.sqlgen import to_duckdb_sql

    return to_duckdb_sql(_REV_EXPR, _pq_schema("lineitem"))


def _x89(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the canonical OLAP aggregation —
    ONE keyed agg with map-side combine over a date-filtered scan (filter
    and the 7-column pruned ReadSchema push into the parquet scan).
    Money sums use the shared exact_sum convention (sqlgen): scale each
    row to integer ten-thousandths with the one multiply+add every engine
    performs identically, sum exactly, rescale — round(sum(double),6) is
    NOT enough at sf>=0.1 (partial-sum order wobbles ~1e-3 on
    1e10-magnitude sums).  The revenue/charge scalars are the SAME dftly
    expression strings the oracle emits through sqlgen."""
    from dftly_spark.sqlgen import exact_sum, portable_round

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2024-09-01").cast("timestamp")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),  # whole numbers: exact
            exact_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            exact_sum(_rev_col(li)).alias("sum_disc_price"),
            exact_sum(Parser.expr_to_spark(_CHARGE_EXPR, schema=li)).alias(
                "sum_charge"
            ),
            # portable_round, not round(): Spark HALF_UP vs DuckDB's
            # float-multiply round differ exactly at the .5e-6 boundary
            portable_round(F.avg("l_quantity")).alias("avg_qty"),
            portable_round(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _x89_oracle() -> str:
    from dftly_spark.sqlgen import exact_sum_sql, portable_round_sql, to_duckdb_sql

    charge = to_duckdb_sql(_CHARGE_EXPR, _pq_schema("lineitem"))
    return f"""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           {exact_sum_sql("l_extendedprice")} AS sum_base_price,
           {exact_sum_sql(_rev_sql())} AS sum_disc_price,
           {exact_sum_sql(charge)} AS sum_charge,
           {portable_round_sql("avg(l_quantity)")} AS avg_qty,
           {portable_round_sql("avg(l_discount)")} AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-01'
    GROUP BY l_returnflag, l_linestatus
    """


_q("x89_pricing_summary", _x89, _x89_oracle)


def _x90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style regional volume: revenue per nation for one region.
    The dimension chain region→nation→customer broadcasts down onto the
    two fact tables (every dim side is F.broadcast — zero dim-side
    Exchange), orders⋈lineitem co-partition on the order key; ONE fact
    shuffle + one small final agg."""
    _prep(spark)
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dims = (
        nation.join(F.broadcast(region),
                    nation["n_regionkey"] == region["r_regionkey"])
        .select("n_nationkey", "n_name")
    )
    cd = cust.join(F.broadcast(dims), cust["c_nationkey"] == dims["n_nationkey"])
    ord_cd = orders.join(
        F.broadcast(cd.select("c_custkey", "n_name")),
        orders["o_custkey"] == F.col("c_custkey"),
    )
    from dftly_spark.sqlgen import exact_sum

    return (
        li.join(ord_cd.select("o_orderkey", "n_name"),
                li["l_orderkey"] == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(exact_sum(_rev_col(li)).alias("revenue"))
    )


def _x90_oracle() -> str:
    from dftly_spark.sqlgen import exact_sum_sql

    return f"""
    SELECT n_name,
           {exact_sum_sql(_rev_sql())} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """


_q(
    "x90_regional_revenue",
    _x90,
    _x90_oracle,
)


def _x91(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-timestamp join (ops/joins.py nearest_join): snap each event
    to its user's closest checkpoint (either side, ties backward).  Two
    keyed union+window passes composed from asof_join — no pairwise join;
    the oracle IS the per-key all-pairs min-gap join it must reproduce."""
    from dftly_spark.ops import nearest_join

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    marks = (
        ev.where(F.col("event_id") % 7 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("mark_val"))
    )
    out = nearest_join(ev, marks, on="ts", by="user_id", how="inner")
    return out.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("ts_us"), "value",
        F.unix_micros("ts_right").alias("mark_us"),
        "mark_val_right",
    )


_q(
    "x91_nearest_join",
    _x91,
    """
    WITH e AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
      FROM events
    ), marks AS (
      SELECT user_id, ts_us AS mark_us, max(value) AS mark_val
      FROM e WHERE event_id % 7 = 0 GROUP BY user_id, ts_us
    ), j AS (
      SELECT e.event_id, e.user_id, e.ts_us, e.value, m.mark_us, m.mark_val,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY abs(e.ts_us - m.mark_us), m.mark_us) AS rn
      FROM e JOIN marks m USING (user_id)
    )
    SELECT event_id, user_id, ts_us, value, mark_us,
           mark_val AS mark_val_right
    FROM j WHERE rn = 1
    """,
)


def _x92(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keywords (ops/retrieval.py tf_idf_vectors + window
    top-k): the 3 highest-TF-IDF terms per document, tf_idf-desc with
    term-asc tie-break.  Gates the TF-IDF postings builder directly
    (x54 gates it only through the cosine-pair composition); the rank
    window partitions on doc_id — the same key as the postings agg, so
    it reuses that Exchange."""
    from pyspark.sql import Window

    from dftly_spark.ops import tf_idf_vectors

    _prep(spark)
    vec = tf_idf_vectors(
        _docs_tok(spark, sf_dir), min_df=2, tokens_col=_TOK,
    )
    # rank on the ROUNDED score: ranking on raw doubles while the oracle
    # ranks rounded ones would flip order whenever two terms round equal
    vec = vec.withColumn("tf_idf", portable_round(F.col("tf_idf"), 6))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf_idf").desc(), F.col("term").asc()
    )
    return (
        vec.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "doc_id", "term", "tf",
            F.col("df").cast("long").alias("df"),
            "tf_idf",
            F.col("rank").cast("int").alias("rank"),
        )
    )


_q(
    "x92_doc_keywords",
    _x92,
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    tf AS (
      SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(w) AS t FROM base)
      GROUP BY doc_id, t
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
      HAVING COUNT(*) >= 2
    ),
    post AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             floor((tf.tf * ln(n.n_docs::DOUBLE / dfreq.df)) * 1000000 + 0.5) / 1000000 AS tf_idf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tf_idf,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tf_idf DESC, term) AS INT) AS rank
    FROM post
    QUALIFY rank <= 3
    """,
)


def _x93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event debounce (ops/sessions.py debounce): drop rows repeating the
    previous event's type within 30 minutes per user — ONE keyed lag
    window, null-safe comparisons, chains collapse by consecutive gap."""
    from dftly_spark.ops import debounce

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    out = debounce(
        ev, "user_id", "ts", value_cols=["event_type"],
        within_micros=1_800_000_000, order_cols=["event_id"],
    )
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "event_type"
    )


_q(
    "x93_debounce",
    _x93,
    """
    WITH e AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             event_type,
             lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS prev_ts,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
    )
    SELECT event_id, user_id, ts_us, event_type
    FROM e
    WHERE prev_ts IS NULL
       OR event_type IS DISTINCT FROM prev_type
       OR ts_us - prev_ts > 1800000000
    """,
)


def _x94(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations (ops/quality.py expect): a declarative
    rule list compiles to ONE conditional-count aggregation pass (+ one
    keyed agg for the uniqueness rule); custom rules are dftly boolean
    expressions — the reference's language IS the rule language."""
    from dftly_spark.ops import expect

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return expect(li, [
        {"rule": "not_null", "col": "l_orderkey"},
        {"rule": "in_range", "col": "l_quantity", "min": 1, "max": 30},
        {"rule": "in_set", "col": "l_returnflag", "values": ["A", "N", "R"]},
        {"rule": "unique", "cols": ["l_orderkey", "l_linenumber"]},
        {"rule": "expr", "name": "positive_revenue",
         "expr": "$l_extendedprice * (1 - $l_discount) > 0"},
    ])


_q(
    "x94_expectations",
    _x94,
    """
    SELECT 'not_null(l_orderkey)' AS rule,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (l_orderkey IS NULL) AS BIGINT) AS n_violations,
           count(*) FILTER (l_orderkey IS NULL) = 0 AS passed
    FROM lineitem
    UNION ALL
    SELECT 'in_range(l_quantity)', CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (l_quantity < 1 OR l_quantity > 30) AS BIGINT),
           count(*) FILTER (l_quantity < 1 OR l_quantity > 30) = 0
    FROM lineitem
    UNION ALL
    SELECT 'in_set(l_returnflag)', CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (l_returnflag IS NOT NULL
                                 AND l_returnflag NOT IN ('A','N','R')) AS BIGINT),
           count(*) FILTER (l_returnflag IS NOT NULL
                            AND l_returnflag NOT IN ('A','N','R')) = 0
    FROM lineitem
    UNION ALL
    SELECT 'expr(positive_revenue)', CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (NOT coalesce(
             l_extendedprice * (1 - l_discount) > 0, false)) AS BIGINT),
           count(*) FILTER (NOT coalesce(
             l_extendedprice * (1 - l_discount) > 0, false)) = 0
    FROM lineitem
    UNION ALL
    SELECT 'unique(l_orderkey,l_linenumber)', CAST(sum(n) AS BIGINT),
           CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT),
           sum(CASE WHEN n > 1 THEN n ELSE 0 END) = 0
    FROM (SELECT count(*) AS n FROM lineitem
          GROUP BY l_orderkey, l_linenumber)
    """,
)


def _x95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup (ops/textops.py canonical_url): derive
    messy-but-deterministic URLs from the documents table (case noise,
    default ports, tracking params, fragments, trailing slashes), then
    account duplicates per canonical form.  The normalizer is a pure
    regex pipeline in the Java∩RE2 subset, so the oracle replays every
    step byte-for-byte — no parse_url dependency on either engine."""
    from dftly_spark.ops.textops import canonical_url

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    # deterministic mess: 4 surface variants of the same logical URL
    v = (F.col("doc_id") % 4).cast("int")
    base = F.concat(
        F.lit("://"), F.col("source"), F.lit(".example.com"),
        F.lit("/docs/"), (F.col("doc_id") % 50).cast("string"),
    )
    url = (
        F.when(v == 0, F.concat(F.lit("https"), base))
        .when(v == 1, F.concat(F.lit("HTTPS"), base, F.lit("/")))
        .when(v == 2, F.concat(F.lit("https"), base, F.lit("?utm_source=mail&fbclid=abc")))
        .otherwise(F.concat(F.lit("https"), base, F.lit("#section-2")))
    )
    # re-insert the default port on variant 2 for port-stripping coverage
    url = F.when(
        v == 2,
        F.regexp_replace(url, r"\.example\.com", ".example.com:443"),
    ).otherwise(url)
    return (
        docs.select(F.col("doc_id"), url.alias("url"))
        .select("doc_id", "url", canonical_url(F.col("url")).alias("canon"))
        .groupBy("canon")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url").alias("n_raw_forms"),
        )
    )


def _x95_oracle() -> str:
    track = "(utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid|ref)"
    expr = "trim(url)"
    # scheme lowered, userinfo (…@) case kept, host[:port] lowered — the
    # byte-for-byte replay of canonical_url step 1
    expr = (
        f"CASE WHEN regexp_extract({expr}, '^([A-Za-z][A-Za-z0-9+.-]*://)', 1) = '' "
        f"THEN {expr} ELSE "
        f"lower(regexp_extract({expr}, '^([A-Za-z][A-Za-z0-9+.-]*://)', 1)) || "
        f"regexp_extract({expr}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*@)', 1) || "
        f"lower(regexp_extract({expr}, "
        f"'^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/?#]*)', 1)) || "
        f"regexp_replace({expr}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') END"
    )
    for pat, rep, flag in [
        ("#.*$", "", ""),
        (f"&{track}=[^&#]*", "", "g"),
        (f"\\?{track}=[^&#]*&", "?", ""),
        (f"\\?{track}=[^&#]*$", "", ""),
        ("^(http://[^/?#:]*):80($|[/?#].*)", r"\1\2", ""),
        ("^(https://[^/?#:]*):443($|[/?#].*)", r"\1\2", ""),
        (r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+/[^?#]*[^/?#])/(\?.*)?$", r"\1\2", ""),
    ]:
        f = f", '{flag}'" if flag else ""
        expr = f"regexp_replace({expr}, '{pat}', '{rep}'{f})"
    return f"""
    WITH u AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'https://' || source || '.example.com/docs/' || (doc_id % 50)
               WHEN 1 THEN 'HTTPS://' || source || '.example.com/docs/' || (doc_id % 50) || '/'
               WHEN 2 THEN 'https://' || source || '.example.com:443/docs/' || (doc_id % 50)
                           || '?utm_source=mail&fbclid=abc'
               ELSE 'https://' || source || '.example.com/docs/' || (doc_id % 50)
                    || '#section-2'
             END AS url
      FROM documents
    )
    SELECT {expr} AS canon,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms
    FROM u GROUP BY canon
    """


_q("x95_url_canonical_dedup", _x95, _x95_oracle)


#: The q27 spec is shared by the Spark builder AND the sqlgen oracle —
#: the emitter (dftly_spark/sqlgen.py) generates the DuckDB mirror from
#: the SAME AST the Spark lowering consumes, so this query gates the
#: emitter itself through the driver's own correctness machinery.
_Q27_SPEC = {
    "ok": "$l_orderkey",
    "ln": "$l_linenumber",
    "rev": "$l_extendedprice * (1 - $l_discount)",
    "qty_i": "$l_quantity::int64",
    "grade": "('bulk' if $l_quantity >= 30 else 'retail')",
    "code": 'f"{$l_returnflag}~{$l_linestatus}"',
    "flag2": "$l_returnflag[0:1] + $l_linestatus[0:1]",
    "ship_y": "$l_shipdate::year_of_date",
    "ship_dow": "$l_shipdate::day_of_week",
    "is_n": '/N/ in $l_returnflag',
    "best": "max($l_discount, $l_tax)",
    "mid": "mean($l_discount, $l_tax)",
    "sq": "$l_linenumber ** 2",
    "d7": "($l_shipdate + 7::days)",
}

_Q27_SCHEMA = {
    "l_orderkey": "int64",
    "l_linenumber": "int32",
    "l_quantity": "float64",
    "l_extendedprice": "float64",
    "l_discount": "float64",
    "l_tax": "float64",
    "l_returnflag": "str",
    "l_linestatus": "str",
    "l_shipdate": "datetime",
}


def _q27_oracle() -> str:
    from dftly_spark.sqlgen import spec_to_duckdb_sql

    cols = spec_to_duckdb_sql(_Q27_SPEC, _Q27_SCHEMA)
    return (
        "SELECT "
        + ", ".join(f"{sql} AS {name}" for name, sql in cols.items())
        + " FROM lineitem"
    )


_q("q27_sqlgen_oracle", _spec_query("lineitem", _Q27_SPEC), _q27_oracle)


def _q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chrono residue closed in round 4 (dftly_spark/chrono.py; reference
    /root/reference/src/dftly/nodes/str.py:594-649): %C%y century pairing
    (rewrite_century), leading/trailing %a/%A day-name strip plans
    (dayname_plan), and %::z offset-with-seconds (Java xxxxx).  Strings are
    built deterministically from orders dates, parsed back through the
    engine's strptime surface; DuckDB replays %a/%A natively, %C%y via the
    %Y equivalence (zero-padded 4-digit year), %::z via offset arithmetic.
    """
    _prep(spark)
    o = _t(spark, sf_dir, "orders", fan_out=True)
    k = F.col("o_orderkey")
    d = F.to_date("o_orderdate")  # testdata dates load as timestamp_ntz
    ts = F.timestamp_seconds(
        F.unix_date(d).cast("bigint") * 86400
        + (k % 24) * 3600 + (k % 60) * 60 + (k * 7) % 60
    )
    ohh, omm, oss = (k % 12) + 1, (k % 4) * 15, (k % 2) * 30
    sig = F.when(k % 3 == 0, F.lit("-")).otherwise(F.lit("+"))
    o2 = o.select(
        k.alias("ok"),
        F.date_format(d, "yyyyMMdd").alias("cent_s"),
        F.date_format(ts, "EEE, dd MMM yyyy HH:mm:ss").alias("rfc_s"),
        F.date_format(d, "yyyy-MM-dd EEEE").alias("trail_s"),
        F.concat(
            F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"), sig,
            F.lpad(ohh.cast("string"), 2, "0"), F.lit(":"),
            F.lpad(omm.cast("string"), 2, "0"), F.lit(":"),
            F.lpad(oss.cast("string"), 2, "0"),
        ).alias("offs_s"),
    )
    parsed = Parser.select(
        o2,
        {
            "ok": "$ok",
            "cent_d": "$cent_s::'%C%y%m%d'",
            "rfc_t": "$rfc_s::'%a, %d %b %Y %H:%M:%S'",
            "trail_d": "$trail_s::'%Y-%m-%d %A'",
            "offs_t": "$offs_s::'%Y-%m-%dT%H:%M:%S%::z'",
        },
    )
    return parsed.select(
        "ok",
        "cent_d",
        F.unix_micros("rfc_t").alias("rfc_us"),
        "trail_d",
        F.unix_micros("offs_t").alias("offs_us"),
    )


_q(
    "q28_chrono_residue",
    _q28,
    """
    WITH b AS (
      SELECT o_orderkey AS ok,
             o_orderdate AS d,
             CAST(o_orderdate AS TIMESTAMP)
               + to_seconds((o_orderkey % 24)*3600 + (o_orderkey % 60)*60
                            + (o_orderkey * 7) % 60) AS ts,
             CASE WHEN o_orderkey % 3 = 0 THEN -1 ELSE 1 END AS sig,
             (o_orderkey % 12) + 1 AS ohh,
             (o_orderkey % 4) * 15 AS omm,
             (o_orderkey % 2) * 30 AS oss
      FROM orders
    )
    SELECT ok,
           CAST(strptime(strftime(d, '%Y%m%d'), '%Y%m%d') AS DATE) AS cent_d,
           epoch_us(strptime(strftime(ts, '%a, %d %b %Y %H:%M:%S'),
                             '%a, %d %b %Y %H:%M:%S')) AS rfc_us,
           CAST(strptime(strftime(d, '%Y-%m-%d %A'), '%Y-%m-%d %A') AS DATE)
             AS trail_d,
           epoch_us(ts) - sig * CAST(ohh*3600 + omm*60 + oss AS BIGINT) * 1000000
             AS offs_us
    FROM b
    """,
)


_Q29_SPEC = {
    "pk": "$p_partkey",
    "words": "split($p_name, ' ')",
    "brand_bits": "split($p_brand, '#')",
    "type_first": "split($p_type[0:8], ' ')",
    "by_expr": "split($p_name, $p_name[4:5])",
    "t_epoch": "f\"{$p_partkey}\"::'%s'",
}

_Q29_SCHEMA = {
    "p_partkey": "int64",
    "p_name": "str",
    "p_brand": "str",
    "p_type": "str",
}


def _q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array columns end-to-end through the machine-generated oracle
    (round-3 verdict ask #3): split / split-of-slice / expression-separator
    splits plus the exact-%s epoch format, all emitted by
    dftly_spark/sqlgen.py with ``canonical_lists=True`` — list results
    project to chr(31)-joined strings on BOTH engines (the q20 convention,
    now owned by the emitter via canonicalize_list_columns)."""
    from dftly_spark.sqlgen import canonicalize_list_columns

    _prep(spark)
    out = Parser.select(_t(spark, sf_dir, "part"), _Q29_SPEC)
    return canonicalize_list_columns(out)


def _q29_oracle() -> str:
    from dftly_spark.sqlgen import spec_to_duckdb_sql

    cols = spec_to_duckdb_sql(_Q29_SPEC, _Q29_SCHEMA, canonical_lists=True)
    return (
        "SELECT "
        + ", ".join(f"{sql} AS {name}" for name, sql in cols.items())
        + " FROM part"
    )


_q("q29_sqlgen_arrays", _q29, _q29_oracle)


def _q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chrono mid-format residue closed in round 7 (dftly_spark/chrono.py;
    reference /root/reference/src/dftly/nodes/str.py:594-649): day-name
    codes in the MIDDLE of a format (stripped via the ^-anchored
    non-greedy prefix capture) and %C separated from %y by literal text
    (the separator splices out of the input, then the %Y equivalence).
    Strings are built deterministically from orders dates and parsed back
    through the engine's strptime surface; DuckDB replays %a/%A natively
    and the spliced century via the SAME RE2-safe regexp_replace."""
    _prep(spark)
    o = _t(spark, sf_dir, "orders", fan_out=True)
    k = F.col("o_orderkey")
    d = F.to_date("o_orderdate")
    yyyy = F.date_format(d, "yyyy")
    o2 = o.select(
        k.alias("ok"),
        F.date_format(d, "dd-EEE-MM-yyyy").alias("mid_s"),
        F.date_format(d, "dd EEEE MM yyyy").alias("midfull_s"),
        F.concat(
            F.substring(yyyy, 1, 2), F.lit("|"), F.date_format(d, "yy-MM-dd")
        ).alias("csep_s"),
    )
    parsed = Parser.select(
        o2,
        {
            "ok": "$ok",
            "mid_d": "$mid_s::'%d-%a-%m-%Y'",
            "midfull_d": "$midfull_s::'%d %A %m %Y'",
            "csep_d": "$csep_s::'%C|%y-%m-%d'",
        },
    )
    return parsed


def _q30_oracle_sql() -> str:
    # The %C strip is GENERATED from the same chrono.century_plan the
    # engine lowers through (ADVICE r7): one shared position-anchored
    # pattern, with Java-style $n group refs translated to DuckDB/RE2 \n.
    from dftly_spark.chrono import century_plan

    plan = century_plan("%C|%y-%m-%d")
    (pat, repl), = plan["strips"]
    repl = repl.replace("$1", r"\1").replace("$2", r"\2")
    pat_sql = pat.replace("\\", "\\\\").replace("'", "''")
    repl_sql = repl.replace("\\", "\\\\").replace("'", "''")
    return rf"""
    WITH b AS (SELECT o_orderkey AS ok, o_orderdate AS d FROM orders)
    SELECT ok,
           CAST(strptime(strftime(d, '%d-%a-%m-%Y'), '%d-%a-%m-%Y') AS DATE)
             AS mid_d,
           CAST(strptime(strftime(d, '%d %A %m %Y'), '%d %A %m %Y') AS DATE)
             AS midfull_d,
           CAST(strptime(
                  regexp_replace(
                    substr(strftime(d, '%Y'), 1, 2) || '|'
                      || strftime(d, '%y-%m-%d'),
                    E'{pat_sql}', E'{repl_sql}'),
                  '{plan["fmt"]}') AS DATE) AS csep_d
    FROM b
    """


_q("q30_chrono_midformat", _q30, _q30_oracle_sql())


def _x96(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed quantiles (dftly_spark/streaming.py windowed_quantiles):
    hourly p50/p90/p99 of event value per event_type — the latency-
    dashboard aggregate, completing the windowed trio next to x83/x84.
    Gated on the batch path (exact percentile ≡ DuckDB quantile_cont, the
    x27/x82 parity); the streaming twin (mergeable percentile_approx
    state) shares this code path and is pinned in tests/test_streaming.py."""
    from dftly_spark.streaming import windowed_quantiles

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    out = windowed_quantiles(
        ev, "ts", "value", keys=["event_type"], window="1 hour",
        watermark="2 hours", probs=(0.5, 0.9, 0.99),
    )
    return out.select(
        F.unix_micros("window_start").alias("start_us"),
        F.unix_micros("window_end").alias("end_us"),
        "event_type",
        "n",
        "p50",
        "p90",
        "p99",
    )


_q(
    "x96_windowed_quantiles",
    _x96,
    """
    WITH e AS (
      SELECT event_type, value,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0) AS BIGINT)
               * 3600000000 AS start_us
      FROM events
    )
    SELECT start_us, start_us + 3600000000 AS end_us, event_type,
           CAST(COUNT(value) AS BIGINT) AS n,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM e GROUP BY start_us, event_type
    """,
)
