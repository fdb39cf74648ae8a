"""Extension wave 2 (x29-x50 + x97-x100): scrubbing, dup clusters/spans,
BM25, rollups, contamination, streaming aggs, drift (PSI/KS), ROC-AUC,
merge/upsert, mixtures, bigram LM, semantic dedup, YAML pipelines.

Registers (in order): x29_scrub_text, x30_dup_clusters, x31_bm25_topk,
x32_dup_ngram_spans, x33_cap_per_group, x34_rollup_stats,
x35_contamination_containment, x36_incremental_embedding_dedup,
x37_remove_dup_spans, x38_tumbling_agg, x97_psi_drift, x98_rolling_features,
x99_roc_auc, x100_group_auc, x39_lag_features, x40_ks_drift, x41_histogram,
x42_funnel, x43_merge_upsert, x44_mixture_sample, x45_bigram_lm,
x46_semantic_dedup, x47_snapshot_diff, x48_pipeline_yaml,
x49_analytics_join, x50_topic_mix.

Split out of __spark_entry__.py (round 13); registration order is
preserved by dftly_spark/contract/__init__.py importing the waves in
order.  See common.py for the registry and shared fixtures.
"""

from __future__ import annotations

from dftly_spark import Parser
from dftly_spark.sqlgen import exact_sum, portable_round
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .common import _TOK, _docs_tok, _prep, _q, _t
from .qseries import _SHINGLE_CTE



def _x29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/noise scrub over text with planted URLs/emails/long numbers.

    The testdata has no natural PII, so each doc gets a deterministic
    contact line appended (mirrored in the oracle) before scrubbing.
    """
    from dftly_spark.ops import scrub_text

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com"),
        F.lit(" via https://ex.com/d/"), F.col("doc_id"),
        F.lit(" ref 9000000"), F.col("doc_id"),
    )
    return docs.select(
        "doc_id",
        F.substring(scrub_text(dirty), 1, 200).alias("scrubbed_prefix"),
        F.length(scrub_text(dirty)).cast("bigint").alias("scrubbed_len"),
    )


_q(
    "x29_scrub_text",
    _x29,
    r"""
    WITH d AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com'
                  || ' via https://ex.com/d/' || doc_id
                  || ' ref 9000000' || doc_id AS dirty
      FROM documents
    ), s AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(dirty, 'https?://\S+', '<URL>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '[0-9]{8,}', '<NUM>', 'g') AS scrubbed
      FROM d
    )
    SELECT doc_id, substr(scrubbed, 1, 200) AS scrubbed_prefix,
           CAST(length(scrubbed) AS BIGINT) AS scrubbed_len
    FROM s
    """,
)


def _x30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: MinHash pairs → connected components
    (min-label propagation); cluster_id is the component's smallest doc id."""
    from dftly_spark.ops import dup_clusters, minhash_dup_pairs

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_dup_pairs(
        docs, "doc_id", "text", n=3, k=32, bands=16, threshold=0.7
    )
    return dup_clusters(pairs, "id_l", "id_r")


_q(
    "x30_dup_clusters",
    _x30,
    f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    pairs AS (
      SELECT id_l, id_r
      FROM shared JOIN sizes x ON x.doc_id = id_l JOIN sizes y ON y.doc_id = id_r
      WHERE s::DOUBLE / (x.n + y.n - s) >= 0.7
    ),
    e AS (SELECT id_l AS a, id_r AS b FROM pairs
          UNION SELECT id_r, id_l FROM pairs),
    reach(node, label) AS (
      SELECT a, a FROM e
      UNION
      SELECT e.a, r.label FROM e JOIN reach r ON e.b = r.node
    )
    SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """,
)


#: Fixed BM25 probe queries (vocab terms of the synthetic documents table).
_BM25_QUERIES = [
    (1, "spark window agg"),
    (2, "customer query table"),
    (3, "hash join merge"),
]


def _x31(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import bm25_topk

    _prep(spark)
    docs = _docs_tok(spark, sf_dir)
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id int, query string")
    return bm25_topk(docs, qdf, k=10, tokens_col=_TOK)


def _x31_oracle() -> str:
    """Full DuckDB mirror of bm25_topk(k1=1.2, b=0.75): same tokenization,
    same idf/tf-norm formula with identically-associated float arithmetic,
    and the per-(query, doc) sum replayed as a sequential list_reduce over
    term-sorted scores — bit-identical doubles end to end."""
    k1, b = 1.2, 0.75
    qvals = ", ".join(f"({i}, '{q}')" for i, q in _BM25_QUERIES)
    return rf"""
    WITH qs(query_id, query) AS (VALUES {qvals}),
    base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents
      WHERE len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) > 0
    ), tf AS (
      SELECT doc_id, t AS term, count(*) AS tf, any_value(dl) AS dl
      FROM (SELECT doc_id, unnest(w) AS t, len(w) AS dl FROM base)
      GROUP BY doc_id, t
    ), stats AS (
      SELECT count(*) AS n_docs, SUM(dl) / COUNT(*) AS avgdl
      FROM (SELECT doc_id, any_value(dl) AS dl FROM tf GROUP BY doc_id)
    ), qterms AS (
      SELECT DISTINCT query_id, unnest(list_distinct(
        string_split(trim(regexp_replace(lower(query), '\s+', ' ', 'g')), ' '))) AS term
      FROM qs
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf
      WHERE term IN (SELECT term FROM qterms) GROUP BY term
    ), scored AS (
      SELECT q.query_id, tf.doc_id, tf.term,
             ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * {k1 + 1.0!r})
               / (tf.tf + {k1!r} * ({1.0 - b!r} + {b!r} * tf.dl / s.avgdl)) AS sc
      FROM tf JOIN qterms q ON tf.term = q.term
      JOIN dfreq d ON tf.term = d.term CROSS JOIN stats s
    ), agg AS (
      SELECT query_id, doc_id,
             list_reduce(list(sc ORDER BY term), (a, x) -> a + x) AS score
      FROM scored GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, score,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id) AS INT) AS rank
    FROM agg
    QUALIFY rank <= 10
    """


_q("x31_bm25_topk", _x31, _x31_oracle())


def _x32(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import dup_ngram_fraction

    _prep(spark)
    return dup_ngram_fraction(
        _docs_tok(spark, sf_dir),
        "doc_id",
        "text",
        n=13,
        tokens_col=_TOK,
    )


_q(
    "x32_dup_ngram_spans",
    _x32,
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), inst AS (
      SELECT doc_id, array_to_string(list_slice(w, i, i + 12), ' ') AS g
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 12)) AS i
            FROM base WHERE len(w) >= 13)
      UNION ALL
      SELECT doc_id, array_to_string(w, ' ') AS g FROM base WHERE len(w) < 13
    ), gdf AS (
      SELECT g, count(DISTINCT doc_id) AS docs FROM inst GROUP BY g
    )
    SELECT inst.doc_id,
           count(*) AS n_grams,
           CAST(SUM(CASE WHEN gdf.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
           CAST(SUM(CASE WHEN gdf.docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_frac
    FROM inst JOIN gdf ON inst.g = gdf.g
    GROUP BY inst.doc_id
    """,
)


def _x33(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import cap_per_group

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return cap_per_group(docs, "source", k=10, order_col="doc_id").select(
        "doc_id", "source", "lang"
    )


_q(
    "x33_cap_per_group",
    _x33,
    """
    SELECT doc_id, source, lang
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 10
    """,
)


def _x34(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import rollup_stats

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    out = rollup_stats(
        docs, ["lang", "source"], {"total_chars": F.sum("n_chars")}
    )
    return out.select(
        "lang",
        "source",
        F.col("grouping_id").cast("bigint").alias("grouping_id"),
        "n_rows",
        F.col("total_chars").cast("bigint").alias("total_chars"),
    )


_q(
    "x34_rollup_stats",
    _x34,
    """
    SELECT lang, source, CAST(GROUPING(lang, source) AS BIGINT) AS grouping_id,
           COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY ROLLUP(lang, source)
    """,
)


def _x35(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: probes are 15-word prefixes of every 25th
    document (ids offset by 5M) — each probe's n-grams are contained in its
    source document by construction, so containment flags the source (and
    any near-duplicate of it) at ≈1.0 while whole-doc Jaccard would not."""
    from dftly_spark.ops import containment_pairs

    _prep(spark)
    docs = _docs_tok(spark, sf_dir)
    probes = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), r"\s+"), 1, 15)).alias("text"),
    )
    return containment_pairs(
        probes, docs, "doc_id", "text", n=3, threshold=0.8, tokens_col=_TOK
    )


_q(
    "x35_contamination_containment",
    _x35,
    r"""
    WITH probes AS (
      SELECT doc_id + 5000000 AS doc_id,
             array_to_string(list_slice(string_split(text, ' '), 1, 15), ' ') AS text
      FROM documents WHERE doc_id % 25 = 0
    ),
    pws AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
            FROM probes),
    psh AS (
      SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i+2), ' ') AS g
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i FROM pws WHERE len(w) >= 3)
      UNION SELECT DISTINCT doc_id, array_to_string(w, ' ') FROM pws WHERE len(w) < 3
    ),
    psizes AS (SELECT doc_id, count(*) AS pn FROM psh GROUP BY doc_id),
    cws AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
            FROM documents),
    csh AS (
      SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i+2), ' ') AS g
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i FROM cws WHERE len(w) >= 3)
      UNION SELECT DISTINCT doc_id, array_to_string(w, ' ') FROM cws WHERE len(w) < 3
    ),
    shared AS (
      SELECT p.doc_id AS probe_id, c.doc_id AS doc_id, count(*) AS s
      FROM psh p JOIN csh c ON p.g = c.g GROUP BY 1, 2
    )
    SELECT probe_id, shared.doc_id, s::DOUBLE / pn AS containment
    FROM shared JOIN psizes ON psizes.doc_id = probe_id
    WHERE s::DOUBLE / pn >= 0.8
    """,
)


def _x36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding ingest: the new batch is ×1.5-scaled copies of
    every 8th corpus vector (ids +10M).  Positive scaling preserves every
    hyperplane sign, so each new vector shares its source's bucket
    structurally — recall 1.0 by construction — and the exact-SQL oracle
    below is a valid gate for the bucketed bipartite plan."""
    from dftly_spark.ops import cross_corpus_embedding_pairs

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    new_batch = emb.where(F.col("vec_id") % 8 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    return cross_corpus_embedding_pairs(
        new_batch, emb, "vec_id", "embedding", threshold=0.95, n_planes=8, dim=64
    )


_q(
    "x36_incremental_embedding_dedup",
    _x36,
    """
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), newb AS (
      SELECT vec_id + 10000000 AS vec_id,
             list_transform(embedding::DOUBLE[], x -> x * 1.5) AS v
      FROM embeddings WHERE vec_id % 8 = 0
    ), cu AS (
      SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
      FROM corpus
    ), nu AS (
      SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
      FROM newb
    )
    SELECT n.vec_id AS new_id, c.vec_id AS corpus_id, list_dot_product(n.v, c.v) AS cos
    FROM nu n CROSS JOIN cu c
    WHERE list_dot_product(n.v, c.v) >= 0.95
    """,
)


def _x37(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import remove_dup_ngram_spans

    _prep(spark)
    return remove_dup_ngram_spans(
        _docs_tok(spark, sf_dir),
        "doc_id",
        "text",
        n=13,
        min_df=2,
        tokens_col=_TOK,
    )


_q(
    "x37_remove_dup_spans",
    _x37,
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), tok AS (
      SELECT doc_id, p, w[p] AS t
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p FROM base)
    ), inst AS (
      SELECT doc_id, p, array_to_string(list_slice(w, p, p + 12), ' ') AS g
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 12)) AS p
            FROM base WHERE len(w) >= 13)
    ), flagged AS (
      SELECT g FROM (SELECT DISTINCT doc_id, g FROM inst)
      GROUP BY g HAVING count(*) >= 2
    ), cov AS (
      SELECT DISTINCT doc_id, p FROM (
        SELECT doc_id, unnest(generate_series(p, p + 12)) AS p
        FROM inst JOIN flagged USING (g))
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


def _x38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (the streaming helper, gated on batch —
    ``withWatermark`` is a no-op on bounded frames, so the exact same code
    path feeds the streaming twin tested in tests/test_streaming.py)."""
    from dftly_spark.streaming import tumbling_agg

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    out = tumbling_agg(
        ev,
        "ts",
        window="1 hour",
        watermark="2 hours",
        keys=["event_type"],
        aggs={"n": F.count(F.lit(1)), "total_value": F.sum("value")},
    )
    return out.select(
        F.unix_micros("window_start").alias("start_us"),
        F.unix_micros("window_end").alias("end_us"),
        "event_type",
        "n",
        "total_value",
    )


_q(
    "x38_tumbling_agg",
    _x38,
    """
    WITH e AS (
      SELECT event_type, value,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0) AS BIGINT)
               * 3600000000 AS start_us
      FROM events
    )
    SELECT start_us, start_us + 3600000000 AS end_us, event_type,
           COUNT(*) AS n, SUM(value) AS total_value
    FROM e GROUP BY start_us, event_type
    """,
)


def _x97(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift (ops/profile.py psi_drift): per-bucket population-
    stability contributions between click and purchase value
    distributions — uniform clamped buckets, Laplace smoothing, one keyed
    agg + k-row spine + 1-row totals broadcast.  The psi column uses the
    convention-free floor-scale rounding because ln differs across
    engines in the last ulp; p_a/p_b are correctly-rounded divisions and
    stay full-precision."""
    from dftly_spark.ops import psi_drift

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return psi_drift(
        ev, "value", "event_type", "click", "purchase",
        lo=0.0, hi=500.0, n_buckets=10,
    )


_q(
    "x97_psi_drift",
    _x97,
    """
    WITH t AS (
      SELECT GREATEST(0, LEAST(9,
               CAST(floor((value - 0.0) / 50.0) AS BIGINT))) AS bucket,
             CAST(event_type = 'click' AS BIGINT) AS ia,
             CAST(event_type = 'purchase' AS BIGINT) AS ib
      FROM events
      WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ),
    c AS (SELECT bucket, SUM(ia) AS ca, SUM(ib) AS cb FROM t GROUP BY bucket),
    spine AS (SELECT range AS bucket FROM range(10)),
    tot AS (SELECT SUM(ia) AS na, SUM(ib) AS nb FROM t)
    SELECT s.bucket,
           CAST(coalesce(ca, 0) AS BIGINT) AS n_a,
           CAST(coalesce(cb, 0) AS BIGINT) AS n_b,
           (coalesce(ca, 0) + 0.5) / (na + 5.0) AS p_a,
           (coalesce(cb, 0) + 0.5) / (nb + 5.0) AS p_b,
           floor((p_a - p_b) * ln(p_a / p_b) * 1000000.0 + 0.5) / 1000000.0
             AS psi
    FROM spine s LEFT JOIN c ON s.bucket = c.bucket CROSS JOIN tot
    """,
)


def _x98(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing time-window features (ops/joins.py rolling_time_features):
    per-event count/sum/min/max/mean of the last hour of each user's
    values — ONE keyed RANGE-frame window, all aggregates in one pass.
    Exactness: the value is integer-scaled (floor-scale to 1e-4 units,
    the convention-free rounding) BEFORE the window, so the trailing sums
    are order-independent bigint sums on both engines and the mean is one
    exact IEEE division."""
    from dftly_spark.ops import rolling_time_features
    from dftly_spark.sqlgen import exact_quant

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        exact_quant(F.col("value")).alias("vi"),
    )
    out = rolling_time_features(
        ev, "user_id", "ts", "vi", lookback_micros=3_600_000_000
    )
    return out.select(
        "event_id",
        F.col("vi_trail_n").alias("n_tr"),
        F.col("vi_trail_sum").alias("sum_tr"),
        F.col("vi_trail_min").alias("min_tr"),
        F.col("vi_trail_max").alias("max_tr"),
        (F.col("vi_trail_sum").cast("double") / F.col("vi_trail_n")).alias(
            "mean_tr"
        ),
    )


def _x98_oracle() -> str:
    from dftly_spark.sqlgen import exact_quant_sql

    return f"""
    WITH e AS (
      SELECT event_id, user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             {exact_quant_sql("value")} AS vi
      FROM events
    )
    SELECT event_id,
           CAST(COUNT(vi) OVER w AS BIGINT) AS n_tr,
           CAST(SUM(vi) OVER w AS BIGINT) AS sum_tr,
           MIN(vi) OVER w AS min_tr,
           MAX(vi) OVER w AS max_tr,
           CAST(SUM(vi) OVER w AS DOUBLE) / (COUNT(vi) OVER w) AS mean_tr
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """


_q("x98_rolling_features", _x98, _x98_oracle)


def _x99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed ROC-AUC (ops/quality.py roc_auc): does event
    value separate purchases from the rest?  Mann-Whitney rank-sum with
    average-rank ties in ALL-INTEGER decimal(38,0) arithmetic — exact and
    order-independent at any corpus size, one double division at the end,
    cumulative ranks via the two-level partitioned_cumsum (never a
    single-reducer window)."""
    from dftly_spark.ops import roc_auc

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        (F.col("event_type") == "purchase").alias("is_purchase"), "value"
    )
    return roc_auc(ev, "is_purchase", "value")


_q(
    "x99_roc_auc",
    _x99,
    """
    WITH t AS (
      SELECT CAST(value AS DOUBLE) AS s,
             CAST(event_type = 'purchase' AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    g AS (SELECT s, SUM(y) AS np, COUNT(*) AS nt FROM t GROUP BY s),
    c AS (SELECT np, nt, SUM(nt) OVER (ORDER BY s) AS cumnt FROM g),
    x AS (
      SELECT SUM(np * (2 * (cumnt - nt) + nt + 1)) AS rs2,
             SUM(np) AS npos, SUM(nt) - SUM(np) AS nneg
      FROM c
    )
    SELECT CASE WHEN npos > 0 AND nneg > 0 THEN
             CAST(rs2 - npos * (npos + 1) AS DOUBLE) / (2.0 * npos * nneg)
           END AS auc,
           CAST(npos AS BIGINT) AS n_pos,
           CAST(nneg AS BIGINT) AS n_neg
    FROM x
    """,
)


def _x100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice exact ROC-AUC (ops/quality.py roc_auc_by_group): the
    x99 metric computed per user shard — a global AUC hides a slice where
    the classifier is broken.  Same all-integer decimal(38,0) rank sums;
    cumulative ranks from ONE keyed window whose partitions carry a
    group's DISTINCT scores (deduped before the window)."""
    from dftly_spark.ops import roc_auc_by_group

    _prep(spark)
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    ev = ev.select(
        (F.col("user_id") % 8).alias("shard"),
        (F.col("event_type") == "purchase").alias("is_purchase"),
        "value",
    )
    return roc_auc_by_group(ev, "shard", "is_purchase", "value")


_q(
    "x100_group_auc",
    _x100,
    """
    WITH t AS (
      SELECT user_id % 8 AS g, CAST(value AS DOUBLE) AS s,
             CAST(event_type = 'purchase' AS BIGINT) AS y
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
        AND user_id IS NOT NULL
    ),
    g2 AS (SELECT g, s, SUM(y) AS np, COUNT(*) AS nt FROM t GROUP BY g, s),
    c AS (SELECT g, np, nt,
                 SUM(nt) OVER (PARTITION BY g ORDER BY s) AS cum
          FROM g2),
    x AS (
      SELECT g, SUM(np * (2 * (cum - nt) + nt + 1)) AS rs2,
             SUM(np) AS npos, SUM(nt) - SUM(np) AS nneg
      FROM c GROUP BY g
    )
    SELECT g AS shard,
           CASE WHEN npos > 0 AND nneg > 0 THEN
             CAST(rs2 - npos * (npos + 1) AS DOUBLE) / (2.0 * npos * nneg)
           END AS auc,
           CAST(npos AS BIGINT) AS n_pos,
           CAST(nneg AS BIGINT) AS n_neg
    FROM x
    """,
)


def _x39(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lag features per user over the event stream."""
    from dftly_spark.ops import lag_features

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    out = lag_features(
        ev, "user_id", ["ts_us", "event_id"], ["value", "ts_us"], lags=(1, 2)
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        "value",
        "value_lag1",
        "value_lag2",
        (F.col("ts_us") - F.col("ts_us_lag1")).alias("gap_us"),
    )


_q(
    "x39_lag_features",
    _x39,
    """
    WITH e AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
               FROM events)
    SELECT event_id, user_id, ts_us, value,
           LAG(value, 1) OVER w AS value_lag1,
           LAG(value, 2) OVER w AS value_lag2,
           ts_us - LAG(ts_us, 1) OVER w AS gap_us
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    """,
)


def _x40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift: exact two-sample KS over document lengths,
    English slice vs German slice."""
    from dftly_spark.ops import ks_drift

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return ks_drift(docs, "n_chars", "lang", "en", "de")


_q(
    "x40_ks_drift",
    _x40,
    """
    WITH tagged AS (
      SELECT n_chars AS v,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia,
             CASE WHEN lang = 'de' THEN 1 ELSE 0 END AS ib
      FROM documents WHERE lang IN ('en', 'de')
    ), counts AS (
      SELECT v, CAST(SUM(ia) AS BIGINT) AS ca, CAST(SUM(ib) AS BIGINT) AS cb
      FROM tagged GROUP BY v
    ), cums AS (
      SELECT v,
             SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM counts
    ), totals AS (
      SELECT CAST(SUM(ia) AS BIGINT) AS na, CAST(SUM(ib) AS BIGINT) AS nb FROM tagged
    )
    SELECT MAX(ABS(cum_a / na - cum_b / nb)) AS ks,
           CAST(any_value(na) AS BIGINT) AS n_a,
           CAST(any_value(nb) AS BIGINT) AS n_b
    FROM cums CROSS JOIN totals
    """,
)


def _x41(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import histogram_fixed

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return histogram_fixed(li, "l_extendedprice", lo=0.0, hi=110000.0, nbins=22)


_q(
    "x41_histogram",
    _x41,
    """
    WITH b AS (
      SELECT CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - 0.0) / 5000.0) AS INTEGER) AS bin
      FROM lineitem
      WHERE CAST(l_extendedprice AS DOUBLE) >= 0.0
        AND CAST(l_extendedprice AS DOUBLE) < 110000.0
    )
    SELECT bin, 0.0 + bin * 5000.0 AS bin_lo, 0.0 + (bin + 1) * 5000.0 AS bin_hi,
           COUNT(*) AS n
    FROM b GROUP BY bin
    """,
)


def _x42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step conversion funnel over the event log (view → click →
    purchase): one user-keyed shuffle, chained conditional window mins."""
    from dftly_spark.ops import funnel

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    out = funnel(ev, ["view", "click", "purchase"])
    return out.select(
        "user_id",
        F.unix_micros("step_1_ts").alias("t1_us"),
        F.unix_micros("step_2_ts").alias("t2_us"),
        F.unix_micros("step_3_ts").alias("t3_us"),
        F.col("steps_completed").cast("int").alias("steps_completed"),
    )


_q(
    "x42_funnel",
    _x42,
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ), s1 AS (
      SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
                  OVER (PARTITION BY user_id) AS t1 FROM e
    ), s2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2 FROM s1
    ), s3 AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3 FROM s2
    )
    SELECT user_id, epoch_us(MIN(t1)) AS t1_us, epoch_us(MIN(t2)) AS t2_us,
           epoch_us(MIN(t3)) AS t3_us,
           CAST(CASE WHEN MIN(t3) IS NOT NULL THEN 3
                     WHEN MIN(t2) IS NOT NULL THEN 2
                     ELSE 1 END AS INTEGER) AS steps_completed
    FROM s3 GROUP BY user_id
    HAVING MIN(t1) IS NOT NULL
    """,
)


def _x43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge: apply a synthesized changelog (updates that supersede a
    stale write, deletes, inserts) onto the documents snapshot."""
    from dftly_spark.ops import merge_upsert

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")

    def chg(frame: DataFrame, text_col, seq: int, op: str) -> DataFrame:
        return frame.select(
            "doc_id", text_col.alias("text"), "lang", "source", "n_chars",
            F.lit(seq).cast("bigint").alias("seq"), F.lit(op).alias("op"),
        )

    upd = chg(docs.where(F.col("doc_id") % 10 == 3), F.upper("text"), 2, "U")
    stale = chg(docs.where(F.col("doc_id") % 10 == 3), F.lit("STALE"), 1, "U")
    dels = chg(docs.where(F.col("doc_id") % 10 == 7), F.col("text"), 1, "D")
    ins = chg(
        docs.where(F.col("doc_id") % 100 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10_000_000)
        ),
        F.concat(F.lit("NEW "), F.col("text")),
        1,
        "I",
    )
    changelog = upd.unionAll(stale).unionAll(dels).unionAll(ins)
    return merge_upsert(docs, changelog, "doc_id")


_q(
    "x43_merge_upsert",
    _x43,
    """
    WITH chg AS (
      SELECT doc_id, upper(text) AS text, lang, source, n_chars,
             CAST(2 AS BIGINT) AS seq, 'U' AS op
      FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id, 'STALE', lang, source, n_chars, 1, 'U'
      FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id, text, lang, source, n_chars, 1, 'D'
      FROM documents WHERE doc_id % 10 = 7
      UNION ALL
      SELECT doc_id + 10000000, 'NEW ' || text, lang, source, n_chars, 1, 'I'
      FROM documents WHERE doc_id % 100 = 0
    ), latest AS (
      SELECT * FROM chg
      QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) = 1
    )
    SELECT COALESCE(c.doc_id, s.doc_id) AS doc_id,
           CASE WHEN c.op IS NOT NULL THEN c.text ELSE s.text END AS text,
           CASE WHEN c.op IS NOT NULL THEN c.lang ELSE s.lang END AS lang,
           CASE WHEN c.op IS NOT NULL THEN c.source ELSE s.source END AS source,
           CASE WHEN c.op IS NOT NULL THEN c.n_chars ELSE s.n_chars END AS n_chars
    FROM documents s FULL OUTER JOIN latest c ON s.doc_id = c.doc_id
    WHERE c.op IS NULL OR c.op <> 'D'
    """,
)


_MIX_BUDGET = 40_000.0


def _x44(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling: 60/40 en/de recipe, rates measured
    from per-source totals, row-local LCG membership gate."""
    from dftly_spark.ops import mixture_sample

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    out = mixture_sample(
        docs, "lang", {"en": 0.6, "de": 0.4},
        budget=_MIX_BUDGET, cost_col="n_chars", id_col="doc_id", seed=5,
    )
    return out.select("doc_id", "lang", "n_chars", "mix_rate")


def _x44_oracle() -> str:
    from dftly_spark.ops.sampling import _M, mix_sql

    u = mix_sql("d.doc_id", 5)
    return f"""
    WITH totals AS (
      SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS s
      FROM documents WHERE lang IN ('en', 'de') GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.n_chars,
           LEAST(1.0, CASE d.lang WHEN 'en' THEN 0.6 WHEN 'de' THEN 0.4 END
                        * {_MIX_BUDGET!r} / CAST(t.s AS DOUBLE)) AS mix_rate
    FROM documents d JOIN totals t ON d.lang = t.lang
    WHERE {u} < LEAST(1.0, CASE d.lang WHEN 'en' THEN 0.6 WHEN 'de' THEN 0.4 END
                             * {_MIX_BUDGET!r} / CAST(t.s AS DOUBLE)) * {_M}
    """


_q("x44_mixture_sample", _x44, _x44_oracle())


def _x45(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM quality scores (add-1 smoothing, self-fit)."""
    from dftly_spark.ops import bigram_lm_scores

    _prep(spark)
    return bigram_lm_scores(_docs_tok(spark, sf_dir), tokens_col=_TOK)


_q(
    "x45_bigram_lm",
    _x45,
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), uni AS (
      SELECT count(DISTINCT t) AS v FROM (SELECT unnest(w) AS t FROM base)
    ), inst AS (
      SELECT doc_id, i AS pos, w[i] AS w1, w[i + 1] AS w2
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM base WHERE len(w) >= 2)
    ), c2 AS (
      SELECT w1, w2, count(*) AS c2 FROM inst GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
    ), scored AS (
      SELECT doc_id, pos, ln((c2.c2 + 1.0) / (c1.c1 + 1.0 * uni.v)) AS lp
      FROM inst JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN uni
    )
    SELECT doc_id, count(*) AS n_bigrams,
           list_reduce(list(lp ORDER BY pos), (a, x) -> a + x) AS logprob,
           list_reduce(list(lp ORDER BY pos), (a, x) -> a + x) / count(*) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)


def _x46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup shape): cluster-then-prune survivors.

    Same planted-copy corpus as x05 (scaled copies, cosine ≡ 1 with their
    source).  Positive scaling preserves the argmax-dot cell assignment, so
    every planted pair lands in one cell and the within-cell exact-cosine
    prune removes each copy — recall 1.0 structurally, and the ``"first"``
    centroid strategy makes the whole index replayable in plain SQL.
    """
    from dftly_spark.ops import semantic_dedup

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = emb.where(F.col("vec_id") % 8 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    aug = emb.unionByName(copies)
    kept = semantic_dedup(
        aug, id_col="vec_id", vec_col="embedding", threshold=0.95,
        n_centroids=16, strategy="first",
    )
    return kept.select("vec_id")


# Full DuckDB mirror: "first"-strategy centroids (16 lowest-id vectors of the
# augmented corpus, unit-normalized), argmax-dot cell assignment (lowest cell
# on ties), within-cell pairwise cosine over unit vectors, and the SemDeDup
# keep-one rule (a row is a victim iff it matches a lower id in its cell).
_q(
    "x46_semantic_dedup",
    _x46,
    """
    WITH aug AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 10000000, list_transform(embedding::DOUBLE[], x -> x * 1.5)
      FROM embeddings WHERE vec_id % 8 = 0
    ),
    cents AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS cell,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv
      FROM aug
      QUALIFY row_number() OVER (ORDER BY vec_id) <= 16
    ),
    scores AS (
      SELECT aug.vec_id, cents.cell, list_dot_product(aug.v, cents.cv) AS s
      FROM aug CROSS JOIN cents
    ),
    assigned AS (
      SELECT vec_id, cell FROM scores
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) = 1
    ),
    u AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
          FROM aug),
    victims AS (
      SELECT DISTINCT b.vec_id AS id_r
      FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN u ua ON ua.vec_id = a.vec_id
      JOIN u ub ON ub.vec_id = b.vec_id
      WHERE list_dot_product(ua.v, ub.v) >= 0.95
    )
    SELECT vec_id FROM aug WHERE vec_id NOT IN (SELECT id_r FROM victims)
    """,
)


def _x47(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (data versioning): added/removed/changed keys between
    two corpus versions, derived deterministically from orders."""
    from dftly_spark.ops import snapshot_diff

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    old = orders.where(F.col("o_orderkey") % 7 != 0)
    new = (
        orders.where(F.col("o_orderkey") % 5 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 1.1
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 11 == 0, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
    )
    return snapshot_diff(old, new, "o_orderkey")


_q(
    "x47_snapshot_diff",
    _x47,
    """
    WITH o AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
    n AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 5 <> 0
    ),
    j AS (
      SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
             o.o_orderkey IS NOT NULL AS in_old,
             n.o_orderkey IS NOT NULL AS in_new,
             array_to_string(list_filter([
               CASE WHEN o.o_custkey       IS DISTINCT FROM n.o_custkey       THEN 'o_custkey' END,
               CASE WHEN o.o_orderdate     IS DISTINCT FROM n.o_orderdate     THEN 'o_orderdate' END,
               CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority THEN 'o_orderpriority' END,
               CASE WHEN o.o_orderstatus   IS DISTINCT FROM n.o_orderstatus   THEN 'o_orderstatus' END,
               CASE WHEN o.o_totalprice    IS DISTINCT FROM n.o_totalprice    THEN 'o_totalprice' END
             ], x -> x IS NOT NULL), ',') AS cols
      FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    )
    SELECT o_orderkey,
           CASE WHEN NOT in_old THEN 'added'
                WHEN NOT in_new THEN 'removed'
                WHEN cols <> '' THEN 'changed' END AS change,
           CASE WHEN in_old AND in_new AND cols <> '' THEN cols ELSE '' END
             AS changed_cols
    FROM j
    WHERE (NOT in_old) OR (NOT in_new) OR cols <> ''
    """,
)


_X48_YAML = """
source: {table: documents}
steps:
  - with_columns:
      n_tokens: "$n_chars / 6"
  - filter: "($n_chars >= 64) and ($n_chars <= 100000)"
  - op: exact_dedup
    args: {text_col: text, id_col: doc_id}
    join_back: {key: doc_id}
  - op: cap_per_group
    args: {group_col: source, k: 100, order_col: doc_id}
  - select:
      doc_id: "$doc_id"
      lang: "$lang"
      n_tokens: "$n_tokens::int"
"""


def _x48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative YAML pipeline: quality filter → exact dedup (survivors
    semi-join) → per-source cap → typed projection, all from one YAML doc
    (dftly_spark.pipeline).  One lazy plan; the dftly expression steps fuse
    into the scan."""
    from dftly_spark.pipeline import run_pipeline

    _prep(spark)
    return run_pipeline(spark, _X48_YAML, sf_dir=sf_dir)


_q(
    "x48_pipeline_yaml",
    _x48,
    r"""
    WITH filtered AS (
      SELECT doc_id, lang, source, n_chars, text
      FROM documents WHERE n_chars >= 64 AND n_chars <= 100000
    ),
    keep AS (
      SELECT min(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS k
            FROM filtered)
      GROUP BY k
    ),
    capped AS (
      SELECT f.* FROM filtered f JOIN keep USING (doc_id)
      QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 100
    )
    SELECT doc_id, lang, CAST(TRUNC(n_chars / 6) AS INTEGER) AS n_tokens
    FROM capped
    """,
)


def _x49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema analytics through the engine's documented usage pattern:
    dftly expressions derive the row-level columns (revenue, ship year),
    caller-side joins/aggregation do the rest.  nation broadcasts at any
    scale; the FULL customer projection (c_custkey, c_nationkey — two ints)
    is broadcast here, which holds to ~10⁸ customers; beyond that, drop the
    hint and let the fact-side shuffle join take over (customers shard with
    the fact table in a real TPC-H).  The single other shuffle is the
    grouped aggregation."""
    _prep(spark)
    li = Parser.with_columns(
        _t(spark, sf_dir, "lineitem"),
        {
            "revenue": "$l_extendedprice * (1 - $l_discount)",
            "ship_year": "dt_year($l_shipdate)",
        },
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "ship_year")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # exact_sum (see x21): order-independent integer money sums
            exact_sum(F.col("revenue")).alias("revenue"),
            exact_sum(F.col("l_quantity"), scale=100).alias("qty"),
        )
    )


_q(
    "x49_analytics_join",
    _x49,
    """
    SELECT n.n_name, year(l.l_shipdate) AS ship_year,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                               * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0
             AS revenue,
           CAST(SUM(CAST(floor(l.l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
             / 100.0 AS qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, year(l.l_shipdate)
    """,
)


def _x50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-level corpus accounting: embeddings bucketed to centroid cells
    (row-local argmax, no shuffle), joined to their documents, counted per
    (topic, lang) — the first step of cluster-balanced mixture reweighting."""
    from dftly_spark.ops import topic_assign

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    topics = topic_assign(emb, n_topics=16, strategy="first")
    return (
        docs.join(topics, docs.doc_id == topics.vec_id)
        .groupBy("topic", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
        )
    )


_q(
    "x50_topic_mix",
    _x50,
    """
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS cell,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv
      FROM c
      QUALIFY row_number() OVER (ORDER BY vec_id) <= 16
    ),
    scores AS (
      SELECT c.vec_id, cents.cell, list_dot_product(c.v, cents.cv) AS s
      FROM c CROSS JOIN cents
    ),
    assigned AS (
      SELECT vec_id, cell AS topic FROM scores
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) = 1
    )
    SELECT a.topic, d.lang, COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS chars
    FROM documents d JOIN assigned a ON d.doc_id = a.vec_id
    GROUP BY a.topic, d.lang
    """,
)
