"""Extension wave 5 (x101-x121 + x149-x150): the TPC-H-style pack, graph
ops (triangles/k-core), DSIR, novelty/overlap, BPE learn/encode/sampled,
ANN recall, PCA, cube, SCD2 snapshot.

Registers (in order): x101_shipping_priority, x102_order_priority,
x103_returned_items, x104_supplier_diversity, x105_large_orders,
x106_dormant_accounts, x107_triangle_count, x108_resample_ffill,
x109_dsir_weights, x110_interval_join, x111_kcore, x112_novelty,
x113_source_overlap, x114_bpe_learn, x115_bpe_encode, x149_bpe_sampled,
x150_ann_recall, x116_cube_stats, x117_join_size_sketch, x118_pca_project,
x119_session_stats, x120_scd2_snapshot, x121_top_supplier.

Split out of __spark_entry__.py (round 13); registration order is
preserved by dftly_spark/contract/__init__.py importing the waves in
order.  See common.py for the registry and shared fixtures.
"""

from __future__ import annotations

from dftly_spark.sqlgen import exact_sum, portable_round
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .common import _DEFS, _prep, _q, _t
from .ext1 import _x11_oracle
from .ext4 import _rev_col, _rev_sql



def _x101(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping-priority top-k: unshipped revenue per order
    for one market segment.  The segment-filtered customer key list and the
    date-filtered orders are dimension inputs to the lineitem fact scan;
    joins stay UNFORCED equi-joins so AQE picks broadcast at test scale and
    shuffle-hash at cluster scale (customer is fact-sized at 100 TB — a
    hardcoded broadcast() would be the scale bug).  The final top-10 lowers
    to TakeOrderedAndProject: per-partition heaps, no global sort.  Revenue
    uses the x89 integer-scaled exact-money sum so the DESC order (and thus
    the LIMIT set) is engine-independent; o_orderkey breaks ties."""
    _prep(spark)
    cutoff = F.lit("1998-06-01").cast("timestamp")
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    from dftly_spark.sqlgen import exact_sum

    o = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        "o_orderkey", "o_orderdate"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(exact_sum(_rev_col(li)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"),
            "revenue",
        )
    )


def _x101_oracle() -> str:
    from dftly_spark.sqlgen import exact_sum_sql

    return f"""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS odate,
           {exact_sum_sql(_rev_sql())} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate  > TIMESTAMP '1998-06-01'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """


_q("x101_shipping_priority", _x101, _x101_oracle)


def _x102(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style order-priority check: orders from one quarter with at
    least one lineitem shipped >60 days after the order date, counted per
    priority.  The EXISTS lowers to a LEFT SEMI hash join on the order key
    (each order emitted at most once, no post-join dedup); the extra
    non-equi ship-lag predicate rides on the same semi join as a join-side
    filter.  Both scans prune to 2-3 columns."""
    _prep(spark)
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (orders["o_orderkey"] == li["l_orderkey"]) & (
        li["l_shipdate"] > orders["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_q(
    "x102_order_priority",
    _x102,
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate <  TIMESTAMP '1997-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)


def _x103(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item report: top-20 customers by revenue
    lost to returns in one quarter, with nation name attached.  lineitem
    filters on the return flag at the scan; orders⋈lineitem is the one
    fact-fact shuffle (order key); customer and nation attach as unforced
    equi-joins (AQE broadcasts them at test scale).  Exact integer-scaled
    revenue keeps the top-20 cut engine-independent; c_custkey ties."""
    _prep(spark)
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    from dftly_spark.sqlgen import exact_sum

    return (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(exact_sum(_rev_col(li)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def _x103_oracle() -> str:
    from dftly_spark.sqlgen import exact_sum_sql

    return f"""
    SELECT c_custkey, c_name, c_acctbal, n_name,
           {exact_sum_sql(_rev_sql())} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """


_q("x103_returned_items", _x103, _x103_oracle)


def _x104(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier diversity: distinct suppliers able to ship
    selected part shapes, excluding flagged (negative-balance) suppliers.
    The exclusion is a LEFT ANTI hash join against the tiny flagged-key
    list (the NOT-IN shape, null-safe because keys are non-null); the
    part-shape filter prunes at the part scan before the fact join; one
    distinct-agg on (brand, size, suppkey) then a count — both collapse
    into a two-phase partial/final agg with map-side combine."""
    _prep(spark)
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#13")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    flagged = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(flagged, li["l_suppkey"] == flagged["s_suppkey"], "left_anti")
        .join(
            part.select("p_partkey", "p_brand", "p_size"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_q(
    "x104_supplier_diversity",
    _x104,
    """
    SELECT p_brand, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
)


def _x105(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume orders: orders whose total quantity
    exceeds 150, with customer attached.  The HAVING is ONE keyed agg over
    lineitem whose output (~2% of orders) then drives the orders join —
    agg and join both partition on the order key, so the join reuses the
    agg's Exchange.  Quantities are whole numbers: sums are exact."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 150)
    )
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"),
            "o_totalprice",
            "sum_qty",
        )
    )


_q(
    "x105_large_orders",
    _x105,
    """
    SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS odate,
           o_totalprice, sum_qty
    FROM orders
    JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(l_quantity) > 150) big ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    """,
)


def _x106(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style dormant high-value accounts: customers whose balance
    beats the positive-balance average but who placed no order since 1999,
    counted per nation.  The global average attaches as a 1-row broadcast
    (sanctioned scalar-attach pattern, allowlisted in tests/test_plans.py);
    the threshold compare is PURE INTEGER — cents×count > total-cents, no
    float average anywhere, so no knife-edge rows at any scale.  The
    no-recent-orders test is a LEFT ANTI join on the customer key against
    the date-pruned orders scan."""
    from dftly_spark.sqlgen import exact_quant

    _prep(spark)
    cust = _t(spark, sf_dir, "customer")
    cents = exact_quant(F.col("c_acctbal"), scale=100)
    pos = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(
            F.sum(cents).alias("total_cents"),
            F.count(F.lit(1)).alias("n_pos"),
        )
    )
    rich = (
        cust.crossJoin(F.broadcast(pos))
        .where(cents * F.col("n_pos") > F.col("total_cents"))
        .select("c_custkey", "c_nationkey", cents.alias("c_cents"))
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        rich.join(recent, rich["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("c_cents") / 100.0).alias("totacctbal"),
        )
    )


def _x106_oracle() -> str:
    from dftly_spark.sqlgen import exact_quant_sql

    cents = exact_quant_sql("c_acctbal", scale=100)
    return f"""
    WITH pos AS (
      SELECT sum({cents}) AS total_cents,
             CAST(count(*) AS BIGINT) AS n_pos
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
           sum({cents}) / 100.0
             AS totacctbal
    FROM customer, pos
    WHERE {cents} * n_pos > total_cents
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c_nationkey
    """


_q("x106_dormant_accounts", _x106, _x106_oracle)


def _x107(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (ops/graph.py triangle_count) over the part
    co-purchase graph: parts are linked when they share an order.  The
    operator orients edges by (degree, id) so each triangle is enumerated
    once from its lowest-degree corner and the wedge join's fanout is
    O(sqrt(m))-bounded — the hub defense; counts are orientation-invariant,
    so the oracle replays them with plain id-ordered enumeration.  The
    edge build is the basket explode (ops/assoc.py basket_pairs): one
    keyed shuffle into per-order item sets + two generators — no
    self-join (same edge set; the oracle keeps the declarative join)."""
    from dftly_spark.ops import basket_pairs, triangle_count

    _prep(spark)
    edges = basket_pairs(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey"
    ).select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
    # a pair shared by many orders repeats; the operator collapses it
    return triangle_count(edges)


_q(
    "x107_triangle_count",
    _x107,
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM items a JOIN items b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
            FROM e e1
            JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
            JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
    SELECT node, CAST(count(*) AS BIGINT) AS triangles
    FROM (SELECT unnest([x, y, z]) AS node FROM tri)
    GROUP BY node
    """,
)


def _x108(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-interval resample + forward fill (ops/sessions.py
    resample_ffill): each user's irregular event series regularized to a
    6-hour grid carrying the last observed value — the gap-filling half of
    pandas resample().ffill(), shaped for scale: raw events collapse to
    one row per (user, bucket) in a single keyed agg (deterministic
    in-bucket last via max_by over (ts, event_id)), and the fill window
    runs over the bucket-level frame only, so grid cost is span/interval ×
    keys, independent of event count."""
    from dftly_spark.ops import resample_ffill

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    out = resample_ffill(
        ev, "user_id", "ts", "value", interval="6 hours", order_col="event_id"
    )
    return out.select("user_id", "bucket", "bucket_start_us", "value")


_q(
    "x108_resample_ffill",
    _x108,
    """
    WITH e AS (
      SELECT user_id, value, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 21600000000.0)
                  AS BIGINT) AS bucket
      FROM events
    ), b AS (
      SELECT user_id, bucket, value AS v FROM (
        SELECT user_id, bucket, value,
               row_number() OVER (PARTITION BY user_id, bucket
                                  ORDER BY us DESC, event_id DESC) AS rn
        FROM e) WHERE rn = 1
    ), spans AS (
      SELECT user_id, min(bucket) AS mn, max(bucket) AS mx FROM b
      GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(mn, mx)) AS bucket FROM spans
    ), j AS (
      SELECT g.user_id, g.bucket, b.v
      FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket
    )
    SELECT user_id, bucket, bucket * 21600000000 AS bucket_start_us,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
    FROM j
    """,
)


def _x109(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (ops/lm.py dsir_weights): log p_target −
    log p_raw per document under add-1-smoothed hashed bag-of-bigrams
    models, target = English docs — the importance-resampling data-
    selection score (Xie et al. 2023).  Portable md5-60 bucket hash, the
    B-row log-ratio table quantized floor-scale at 1e-6 (ln differs
    across engines in the last ulp), per-doc terms folded in bucket
    order — bit-reproducible end to end."""
    from dftly_spark.ops import dsir_weights

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return dsir_weights(
        docs, "doc_id", "text",
        target_filter=F.col("lang") == "en", n_buckets=1024,
    )


_q(
    "x109_dsir_weights",
    _x109,
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), inst AS (
      SELECT doc_id, w[i] || ' ' || w[i + 1] AS s
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM base WHERE len(w) >= 2)
    ), hb AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(s), 1, 15))::UBIGINT AS BIGINT) % 1024 AS b
      FROM inst
    ), dc AS (
      SELECT doc_id, b, count(*) AS c FROM hb GROUP BY doc_id, b
    ), raw AS (
      SELECT b, sum(c) AS rc FROM dc GROUP BY b
    ), tgt AS (
      SELECT b, sum(c) AS tc FROM dc
      WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
      GROUP BY b
    ), model AS (
      SELECT raw.b, rc, COALESCE(tc, 0) AS tc
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b
    ), tot AS (
      SELECT sum(rc) AS R, sum(tc) AS T FROM model
    ), lr AS (
      SELECT b,
             floor((ln((tc + 1.0) / (T + 1024.0))
                    - ln((rc + 1.0) / (R + 1024.0))) * 1000000 + 0.5)
               / 1000000 AS lr
      FROM model, tot
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
           list_reduce(list(c * lr ORDER BY b), (a, x) -> a + x) AS logw
    FROM dc JOIN lr USING (b) GROUP BY doc_id
    """,
)


def _x110(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (ops/joins.py interval_join): per-user pairs
    of overlapping half-open spans built from the event stream (even
    event_ids span 90 min, odd span 2 h).  The theta overlap condition
    never reaches the optimizer — both sides explode into 30-min buckets
    and equi-join on (user, bucket); each pair emits exactly once in the
    bucket containing max(start, start_right), so there is NO post-join
    dedup shuffle.  The oracle IS the per-user all-pairs theta join the
    bucket plan must reproduce."""
    from dftly_spark.ops import interval_join

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.col("ts").cast("timestamp").alias("start"),
    )
    a = ev.where(F.col("event_id") % 2 == 0).withColumn(
        "end", F.col("start") + F.expr("INTERVAL 90 MINUTES")
    )
    bside = ev.where(F.col("event_id") % 2 == 1).withColumn(
        "end", F.col("start") + F.expr("INTERVAL 2 HOURS")
    )
    out = interval_join(
        a, bside,
        left_start="start", left_end="end",
        right_start="start", right_end="end",
        by="user_id",
    )
    ov = F.least(F.unix_micros("end"), F.unix_micros("end_right")) - F.greatest(
        F.unix_micros("start"), F.unix_micros("start_right")
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("left_id"),
        F.col("event_id_right").alias("right_id"),
        ov.alias("overlap_us"),
    )


_q(
    "x110_interval_join",
    _x110,
    """
    WITH e AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s
      FROM events
    ), a AS (
      SELECT event_id, user_id, s, s + 5400000000 AS e FROM e
      WHERE event_id % 2 = 0
    ), b AS (
      SELECT event_id, user_id, s, s + 7200000000 AS e FROM e
      WHERE event_id % 2 = 1
    )
    SELECT a.user_id,
           a.event_id AS left_id,
           b.event_id AS right_id,
           least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
    FROM a JOIN b ON a.user_id = b.user_id AND a.s < b.e AND b.s < a.e
    """,
)


def _x111(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core extraction (ops/graph.py kcore): nodes of the 80-core of the
    part co-purchase graph after 8 peeling rounds; the in-band
    ``converged`` scalar (gated by the oracle's own min-degree check)
    certifies the budget sufficed, so this IS the exact 80-core.  Per round
    ONE degree agg + one semi-join per endpoint over the shrinking
    symmetric edge frame, lineage checkpointed; the oracle replays the
    peel with a recursive CTE whose rounds filter on windowed degrees.
    Edge build via the basket explode (ops/assoc.py basket_pairs) — one
    keyed shuffle, no self-join; the oracle keeps the declarative join."""
    from dftly_spark.ops import basket_pairs, kcore

    _prep(spark)
    edges = basket_pairs(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey"
    ).select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
    # a pair shared by many orders repeats; the operator collapses it
    return kcore(edges, 80, max_rounds=8)


_q(
    "x111_kcore",
    _x111,
    """
    WITH RECURSIVE items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), und AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (
      SELECT u AS s, v AS t FROM und UNION ALL SELECT v, u FROM und
    ), peel AS (
      SELECT 0 AS it, s, t FROM e
      UNION ALL
      SELECT it + 1, s, t FROM (
        SELECT it, s, t,
               count(*) OVER (PARTITION BY it, s) AS ds,
               count(*) OVER (PARTITION BY it, t) AS dt
        FROM peel WHERE it < 8
      ) WHERE ds >= 80 AND dt >= 80
    )
    SELECT node, degree, (min(degree) OVER ()) >= 80 AS converged
    FROM (
      SELECT s AS node, CAST(count(*) AS BIGINT) AS degree
      FROM peel WHERE it = 8 GROUP BY s
    ) core
    """,
)


def _x112(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence n-gram novelty (ops/dedup.py novelty_scores): the
    fraction of each document's distinct 3-grams first introduced by that
    document, doc_id order — the streaming-corpus freshness signal.  One
    min WINDOW over the shingle key (no join back, nothing
    corpus-shingle-sized broadcast) + one doc roll-up; the shingle
    instance frame is built once and shuffles once; linear, nothing
    pairwise."""
    from dftly_spark.ops import novelty_scores

    _prep(spark)
    return novelty_scores(_t(spark, sf_dir, "documents"), "doc_id", "text", n=3)


_q(
    "x112_novelty",
    _x112,
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN w[p] || ' ' || w[p + 1] || ' ' || w[p + 2]
                  ELSE array_to_string(w, ' ') END AS s
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, GREATEST(len(w) - 2, 1))) AS p
            FROM base)
    ), h AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(s), 1, 15))::UBIGINT AS BIGINT) AS g
      FROM sh
    ), fown AS (
      SELECT g, min(doc_id) AS own FROM h GROUP BY g
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN own = doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(sum(CASE WHEN own = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS novelty
    FROM h JOIN fown USING (g)
    GROUP BY doc_id
    """,
)


def _x113(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level source overlap (ops/dedup.py source_overlap): exact
    shingle-set Jaccard + directional containment for every source pair —
    the before-you-mix-corpora accounting.  Distinct (source, shingle)
    incidence, per-shingle pair fanout ≤ C(sources,2)."""
    from dftly_spark.ops import source_overlap

    _prep(spark)
    return source_overlap(_t(spark, sf_dir, "documents"), "source", "text", n=3)


_q(
    "x113_source_overlap",
    _x113,
    r"""
    WITH base AS (
      SELECT source,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), sh AS (
      SELECT source,
             CASE WHEN len(w) >= 3
                  THEN w[p] || ' ' || w[p + 1] || ' ' || w[p + 2]
                  ELSE array_to_string(w, ' ') END AS s
      FROM (SELECT source, w,
                   unnest(generate_series(1, GREATEST(len(w) - 2, 1))) AS p
            FROM base)
    ), h AS (
      SELECT DISTINCT source,
             CAST(('0x' || substr(md5(s), 1, 15))::UBIGINT AS BIGINT) AS g
      FROM sh
    ), sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS sz FROM h GROUP BY source
    ), inter AS (
      SELECT a.source AS ga, b.source AS gb, CAST(count(*) AS BIGINT) AS i
      FROM h a JOIN h b ON a.g = b.g AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT ga AS group_a, gb AS group_b, i AS inter,
           sa.sz AS size_a, sb.sz AS size_b,
           CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard,
           CAST(i AS DOUBLE) / sa.sz AS containment_a,
           CAST(i AS DOUBLE) / sb.sz AS containment_b
    FROM inter
    JOIN sizes sa ON sa.source = ga
    JOIN sizes sb ON sb.source = gb
    """,
)


_X114_MERGES = 8
_X114_PASSES = 3


def _x114(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (ops/bpe.py bpe_learn): the top-8
    merge rules of a byte-pair-encoding vocabulary fit on the documents
    corpus — tokenizer induction as relational algebra.  Iteration cost is
    |vocab|-bounded (the word-count table, built once); each round is one
    pair-count agg, a deterministic 1-row argmax, and a row-local
    string-replace rewrite identical in every engine.  The oracle is
    MACHINE-UNROLLED: a Python loop emits one (pair-count, argmax,
    rewrite) CTE triple per round."""
    from dftly_spark.ops import bpe_learn

    _prep(spark)
    return bpe_learn(
        _t(spark, sf_dir, "documents"), "text",
        n_merges=_X114_MERGES, replace_passes=_X114_PASSES,
    )


def _bpe_fit_ctes(doc_where: str = "") -> list[str]:
    """Machine-unrolled DuckDB CTE chain replaying the bpe_learn fit:
    wc → v0, then one (pair-count p{i}, argmax r{i}, rewrite v{i+1})
    triple per merge round.  Shared by the x114/x115/x149 oracles;
    ``doc_where`` ANDs an extra source predicate into the word count
    (x149's hash-sample gate)."""
    sep = "chr(31)"
    ctes = [
        r"""wc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        FROM documents WHERE length(trim(text)) > 0{DOC_WHERE})
      WHERE w <> '' AND NOT contains(w, chr(31)) GROUP BY w
    )""".replace("{DOC_WHERE}", f" AND {doc_where}" if doc_where else ""),
        f"v0 AS (SELECT array_to_string(string_split(w, ''), {sep}) AS s, c FROM wc)",
    ]
    for i in range(_X114_MERGES):
        ctes.append(
            f"""p{i} AS (
      SELECT sp[j] AS pa, sp[j + 1] AS pb, CAST(sum(c) AS BIGINT) AS cnt
      FROM (SELECT string_split(s, {sep}) AS sp, c,
                   unnest(generate_series(1, len(string_split(s, {sep})) - 1)) AS j
            FROM v{i} WHERE len(string_split(s, {sep})) >= 2)
      GROUP BY pa, pb
    )"""
        )
        ctes.append(
            f"r{i} AS (SELECT pa, pb, cnt FROM p{i} ORDER BY cnt DESC, pa, pb LIMIT 1)"
        )
        merged = f"{sep} || s || {sep}"
        pat = f"{sep} || pa || {sep} || pb || {sep}"
        rep = f"{sep} || pa || pb || {sep}"
        for _ in range(_X114_PASSES):
            merged = f"replace({merged}, {pat}, {rep})"
        ctes.append(
            f"""v{i + 1} AS (
      SELECT substr(x, 2, length(x) - 2) AS s, c
      FROM (SELECT {merged} AS x, c FROM v{i}, r{i})
    )"""
        )
    return ctes


def _x114_oracle() -> str:
    finals = " UNION ALL ".join(
        f"SELECT {i} AS rank, pa AS merge_left, pb AS merge_right, cnt AS pair_count FROM r{i}"
        for i in range(_X114_MERGES)
    )
    return "WITH " + ",\n".join(_bpe_fit_ctes()) + "\n" + finals


_q("x114_bpe_learn", _x114, _x114_oracle)


def _x115(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding counts (ops/bpe.py bpe_encode_counts): per-document
    token counts under the x114-learned vocabulary — the real
    sequence-length metric for packing/budgeting.  The 8-rule merge table
    is tokenizer metadata and compiles into ONE literal codegen'd
    replace-chain expression; the only shuffle is the per-doc count agg.
    The oracle refits the rules with the shared machine-unrolled CTE
    chain, then encodes with the same nested replaces."""
    from dftly_spark.ops import bpe_encode_counts, bpe_learn

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    merges = bpe_learn(
        docs, "text", n_merges=_X114_MERGES, replace_passes=_X114_PASSES
    )
    return bpe_encode_counts(docs, "doc_id", "text", merges,
                             replace_passes=_X114_PASSES)


def _x115_oracle() -> str:
    sep = "chr(31)"
    ctes = _bpe_fit_ctes()
    ctes.append(
        r"""dw AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        FROM documents WHERE length(trim(text)) > 0)
      WHERE w <> '' AND NOT contains(w, chr(31))
    )"""
    )
    enc = f"{sep} || array_to_string(string_split(w, ''), {sep}) || {sep}"
    for i in range(_X114_MERGES):
        pat = f"{sep} || r{i}.pa || {sep} || r{i}.pb || {sep}"
        rep = f"{sep} || r{i}.pa || r{i}.pb || {sep}"
        for _ in range(_X114_PASSES):
            enc = f"replace({enc}, {pat}, {rep})"
    rules = ", ".join(f"r{i}" for i in range(_X114_MERGES))
    ctes.append(
        f"""enc AS (
      SELECT doc_id,
             length(x) - length(replace(x, {sep}, '')) - 1 AS n_tok
      FROM (SELECT doc_id, {enc} AS x FROM dw, {rules})
    )"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, "
        + "CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM enc GROUP BY doc_id"
    )


_q("x115_bpe_encode", _x115, _x115_oracle)


def _x149(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-then-learn BPE (ops/bpe.py bpe_learn(sample_frac=, id_col=))
    — the corpus-size-independent production recipe for tokenizer fits
    (SCALING.md: exact full-corpus greedy is ~2 h of driver-sequential
    rounds at 32 k merges; merge ranks are Zipf-stable under document
    sampling).  The sample gate is the deterministic LCG mixer keyed on
    doc_id — never rand() — so the DuckDB oracle replays the exact same
    document subset (sampling.mix_sql) through the same machine-unrolled
    fit CTEs as x114."""
    from dftly_spark.ops import bpe_learn

    _prep(spark)
    return bpe_learn(
        _t(spark, sf_dir, "documents"), "text",
        n_merges=_X114_MERGES, replace_passes=_X114_PASSES,
        sample_frac=0.5, id_col="doc_id", sample_seed=3,
    )


def _x149_oracle() -> str:
    from dftly_spark.ops.sampling import _M, mix_sql

    gate = f"{mix_sql('doc_id', 3)} < {int(0.5 * _M)}"
    finals = " UNION ALL ".join(
        f"SELECT {i} AS rank, pa AS merge_left, pb AS merge_right, cnt AS pair_count FROM r{i}"
        for i in range(_X114_MERGES)
    )
    return "WITH " + ",\n".join(_bpe_fit_ctes(doc_where=gate)) + "\n" + finals


_q("x149_bpe_sampled", _x149, _x149_oracle)


def _x150(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall harness (ops/similarity.py topk_recall): per-query
    recall@10 of the hyperplane-LSH index (x11's exact configuration)
    against the exact cosine ranking (x06's), the index-tuning loop's
    metric.  Two keyed aggs + one semi-join over the tiny top-k frames —
    no corpus-sized work beyond the two rankings.  The oracle embeds both
    queries' full SQL replays as subqueries and joins them, so the gate
    re-verifies the whole LSH pipeline end-to-end."""
    from dftly_spark.ops import brute_force_topk, lsh_bucket_topk, topk_recall

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = brute_force_topk(emb, qs, k=10)
    approx = lsh_bucket_topk(emb, qs, k=10, n_planes=6, seed=42, dim=64)
    return topk_recall(truth, approx)


def _x150_oracle() -> str:
    truth_sql = _DEFS["x06_cosine_topk"][1]
    approx_sql = _x11_oracle()
    return f"""
    WITH truth AS (SELECT * FROM ({truth_sql})),
    -- DISTINCT matches topk_recall's left_semi semantics: a duplicate
    -- (query_id, vec_id) in the approx frame must not double-count a hit
    approx AS (SELECT DISTINCT query_id, vec_id FROM ({approx_sql})),
    per AS (
      SELECT t.query_id, count(*) AS n_truth, count(a.vec_id) AS n_hits
      FROM truth t
      LEFT JOIN approx a ON a.query_id = t.query_id AND a.vec_id = t.vec_id
      GROUP BY t.query_id
    )
    SELECT query_id, CAST(n_hits AS INT) AS n_hits,
           CAST(n_truth AS INT) AS n_truth,
           n_hits::DOUBLE / n_truth AS recall
    FROM per
    """


_q("x150_ann_recall", _x150, _x150_oracle)


def _x116(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE corpus accounting (ops/profile.py cube_stats): rows and chars
    by lang, by source, by (lang, source), and overall — the
    non-hierarchical sibling of x34's ROLLUP, all 2^|dims| grouping sets
    from ONE scan + ONE shuffle via the native Expand."""
    from dftly_spark.ops import cube_stats

    _prep(spark)
    out = cube_stats(
        _t(spark, sf_dir, "documents"),
        ["lang", "source"],
        {"total_chars": F.sum("n_chars")},
    )
    return out.select(
        "lang",
        "source",
        F.col("grouping_id").cast("bigint").alias("grouping_id"),
        "n_rows",
        F.col("total_chars").cast("bigint").alias("total_chars"),
    )


_q(
    "x116_cube_stats",
    _x116,
    """
    SELECT lang, source, CAST(GROUPING(lang, source) AS BIGINT) AS grouping_id,
           COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY CUBE(lang, source)
    """,
)


def _x117(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join-size estimation (ops/sketch.py cms_join_size):
    |lineitem ⋈ filtered-part| estimated from the count-min inner product
    — the planner's cardinality question answered without shuffling
    either table — next to the exact count for calibration.  Both
    sketches are depth×width cells built in one pass each; the estimate
    never undercounts (collisions only add)."""
    from dftly_spark.ops import cms_build, cms_join_size

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    pt = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_size") <= 25)
        .select("p_partkey")
    )
    sa = cms_build(li, "l_partkey", depth=4, width=1024)
    sb = cms_build(pt, "p_partkey", depth=4, width=1024)
    est = cms_join_size(sa, sb)
    exact = li.join(pt, li["l_partkey"] == pt["p_partkey"]).agg(
        F.count(F.lit(1)).alias("join_size_exact")
    )
    return est.crossJoin(F.broadcast(exact))


_q(
    "x117_join_size_sketch",
    _x117,
    """
    WITH rows(r) AS (SELECT unnest([0, 1, 2, 3])),
    sa AS (
      SELECT r, b, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT r.r AS r,
               ((l_partkey * 1103515245 + 12345 + r.r * 1000 + 1) % 2147483648)
                 % 1024 AS b
        FROM lineitem CROSS JOIN rows r)
      GROUP BY r, b
    ), sb AS (
      SELECT r, b, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT r.r AS r,
               ((p_partkey * 1103515245 + 12345 + r.r * 1000 + 1) % 2147483648)
                 % 1024 AS b
        FROM part CROSS JOIN rows r WHERE p_size <= 25)
      GROUP BY r, b
    ), prods AS (
      SELECT rows.r AS r, CAST(coalesce(p, 0) AS BIGINT) AS p
      FROM rows LEFT JOIN (
        SELECT sa.r AS pr, sum(sa.n * sb.n) AS p
        FROM sa JOIN sb ON sa.r = sb.r AND sa.b = sb.b GROUP BY sa.r
      ) ON pr = rows.r
    ), exact AS (
      SELECT CAST(count(*) AS BIGINT) AS join_size_exact
      FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_size <= 25
    )
    SELECT (SELECT min(p) FROM prods) AS join_size_est, join_size_exact
    FROM exact
    """,
)


_X118_ITERS = 40


def _x118(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA top-component projection (ops/pca.py pca_top_component):
    MLlib's tall-skinny architecture — distributed exact-integer Gramian
    (vectors quantized to 1e-6 ticks so Σx·xᵀ is order-independent
    bigint), driver-side power iteration over the d²-cell summary with
    every float op sequenced (sequential folds, max-abs round scaling),
    row-local projection.  The oracle replays the ENTIRE fit in one
    recursive CTE — the component is bit-identical across engines."""
    from dftly_spark.ops import pca_top_component

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    return pca_top_component(
        emb, "vec_id", "embedding", dim=64, power_iters=_X118_ITERS
    )


_q(
    "x118_pca_project",
    _x118,
    f"""
    WITH RECURSIVE q AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS xq,
             embedding
      FROM embeddings
    ), cells AS (
      SELECT ii.i AS i, jj.j AS j, CAST(sum(xq[ii.i] * xq[jj.j]) AS BIGINT) AS sp
      FROM q,
           unnest(generate_series(1, 64)) ii(i),
           unnest(generate_series(1, 64)) jj(j)
      GROUP BY ii.i, jj.j
    ), svec AS (
      SELECT ii.i AS i, CAST(sum(xq[ii.i]) AS BIGINT) AS s
      FROM q, unnest(generate_series(1, 64)) ii(i) GROUP BY ii.i
    ), nn AS (
      SELECT CAST(count(*) AS DOUBLE) AS n FROM q
    ), cmat AS (
      SELECT c.i - 1 AS i, c.j - 1 AS j,
             (CAST(sp AS DOUBLE) / n)
               - (CAST(sa.s AS DOUBLE) / n) * (CAST(sb.s AS DOUBLE) / n) AS v
      FROM cells c
      JOIN svec sa ON sa.i = c.i
      JOIN svec sb ON sb.i = c.j
      CROSS JOIN nn
    ), pw AS (
      SELECT 0 AS it, i,
             CAST(CASE WHEN i = 0 THEN 1 ELSE 0 END AS DOUBLE) AS v
      FROM (SELECT DISTINCT i FROM cmat)
      UNION ALL
      SELECT it + 1, i, w / mx FROM (
        SELECT it, i, w, max(abs(w)) OVER () AS mx FROM (
          SELECT pw.it AS it, c.i AS i,
                 list_reduce(list(c.v * pw.v ORDER BY c.j), (a, b) -> a + b) AS w
          FROM pw JOIN cmat c ON c.j = pw.i
          WHERE pw.it < {_X118_ITERS}
          GROUP BY pw.it, c.i))
    ), vfin AS (
      SELECT i, v FROM pw WHERE it = {_X118_ITERS}
    ), vn AS (
      SELECT sqrt(list_reduce(list(v * v ORDER BY i), (a, b) -> a + b)) AS nrm
      FROM vfin
    ), proj AS (
      SELECT vec_id,
             list_reduce(
               list(CAST(e[t.i] AS DOUBLE) * vf.v ORDER BY t.i),
               (a, b) -> a + b) AS dt
      FROM (SELECT vec_id, embedding AS e,
                   unnest(generate_series(1, 64)) AS i
            FROM embeddings) t(vec_id, e, i)
      JOIN vfin vf ON vf.i = t.i - 1
      GROUP BY vec_id
    )
    SELECT vec_id, dt / nrm AS pc1 FROM proj CROSS JOIN vn
    """,
)


def _x119(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session engagement stats (ops/sessions.py session_stats):
    duration, depth, bounce flag, and distinct event types per gap-based
    session — the analytics layer over x13's sessionize, computed with
    the same user-keyed windows plus ONE same-partitioning agg (no join
    back to the event table)."""
    from dftly_spark.ops import session_stats

    _prep(spark)
    return session_stats(
        _t(spark, sf_dir, "events"),
        gap_micros=1_800_000_000,
        type_col="event_type",
    )


_q(
    "x119_session_stats",
    _x119,
    """
    WITH e AS (
      SELECT event_id, user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), b AS (
      SELECT user_id, event_type, event_id, us,
             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
               AS prev_us
      FROM e
    ), s AS (
      SELECT user_id, event_type, us,
             CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                           THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM b
    )
    SELECT user_id, session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           min(us) AS start_us, max(us) AS end_us,
           max(us) - min(us) AS duration_us,
           count(*) = 1 AS is_bounce,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM s GROUP BY user_id, session_idx
    """,
)


def _x120(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 time travel (ops/cdc.py scd2_snapshot): the per-user dimension
    state as of 2024-01-15 from the x59 history — a row-local validity
    filter that pushes into the scan of a stored history table; no window
    or join at read time."""
    from dftly_spark.ops import scd2_history, scd2_snapshot

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    hist = scd2_history(ev, "user_id", "ts", ["event_type"],
                        order_cols=["event_id"])
    snap = scd2_snapshot(hist, "2024-01-15 00:00:00")
    return snap.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("valid_from").cast("timestamp")).alias("from_us"),
        F.unix_micros(F.col("valid_to").cast("timestamp")).alias("to_us"),
    )


_q(
    "x120_scd2_snapshot",
    _x120,
    """
    WITH e AS (
      SELECT user_id, event_type, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), m AS (
      SELECT user_id, event_type, us,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
               AS prev_type,
             row_number() OVER (PARTITION BY user_id ORDER BY us, event_id)
               AS rn
      FROM e
    ), v AS (
      SELECT user_id, event_type, us AS from_us,
             lead(us) OVER (PARTITION BY user_id ORDER BY us, rn) AS to_us
      FROM m
      WHERE rn = 1 OR event_type IS DISTINCT FROM prev_type
    )
    SELECT user_id, event_type, from_us, to_us
    FROM v
    WHERE from_us <= 1705276800000000
      AND (to_us IS NULL OR to_us > 1705276800000000)
    """,
)


def _x121(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style top supplier: suppliers whose quarterly revenue
    equals the maximum — the argmax-vs-scalar-aggregate shape.  The
    revenue view computes once and is referenced twice (per-supplier
    rows + the 1-row max); integer-scaled exact money makes the equality
    join safe — a float max would tie-break on ulps."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    from dftly_spark.ops.scale import durable_checkpoint
    from dftly_spark.sqlgen import exact_quant

    revenue = durable_checkpoint(
        li.groupBy("l_suppkey").agg(F.sum(exact_quant(_rev_col(li))).alias("_rc")),
        eager=False,
    )
    mx = revenue.agg(F.max("_rc").alias("_mx"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(mx), revenue["_rc"] == mx["_mx"])
        .join(supp, F.col("l_suppkey") == supp["s_suppkey"])
        .select(
            "s_suppkey", "s_name",
            (F.col("_rc") / 10000.0).alias("total_revenue"),
        )
    )


def _x121_oracle() -> str:
    from dftly_spark.sqlgen import exact_quant_sql

    return f"""
    WITH revenue AS (
      SELECT l_suppkey,
             sum({exact_quant_sql(_rev_sql())}) AS rc
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, rc / 10000.0 AS total_revenue
    FROM revenue JOIN supplier ON l_suppkey = s_suppkey
    WHERE rc = (SELECT max(rc) FROM revenue)
    """


_q("x121_top_supplier", _x121, _x121_oracle)


def _x122(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style important stock: parts whose shipped value from one
    nation's suppliers exceeds TWICE the per-part mean (``_pv * _np >
    2 * _tv``) — the HAVING-against-a-global-scalar shape, in PURE INTEGER
    arithmetic (cents scaled by the part count vs twice total-cents: no
    float share, no knife edges at any corpus size).  The 1-row total
    attaches by broadcast (sanctioned scalar attach)."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    supp = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") == 1)
        .select("s_suppkey")
    )
    from dftly_spark.sqlgen import exact_quant

    val_i = exact_quant(
        F.col("l_extendedprice") * F.col("l_quantity"), scale=100
    )
    base = li.join(supp, li["l_suppkey"] == supp["s_suppkey"]).select(
        "l_partkey", val_i.alias("_v")
    )
    per_part = base.groupBy("l_partkey").agg(F.sum("_v").alias("_pv"))
    total = per_part.agg(
        F.sum("_pv").alias("_tv"), F.count(F.lit(1)).alias("_np")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("_pv") * F.col("_np") > 2 * F.col("_tv"))
        .select("l_partkey", (F.col("_pv") / 100.0).alias("part_value"))
    )
