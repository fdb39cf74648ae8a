"""Extension wave 3 (x51-x77 + x14): Gopher rules, affixes, sparse cosine,
corpus cleaning, intervals, SCD2, per-group stats/features, PageRank,
ranking metrics, CMS, correlation, entropy, pivot.

Registers (in order): x51_gopher_rules, x52_shared_affixes, x53_hopping_agg,
x54_sparse_cosine, x55_cohort_retention, x14_corpus_clean_pipeline,
x57_merge_intervals, x58_rolling_zscore, x59_scd2_history,
x60_weighted_sample, x61_distinctive_terms, x62_centroid_outliers,
x63_ntile_features, x64_time_weighted_avg, x65_key_skew,
x66_transition_matrix, x67_pagerank, x68_ranking_metrics,
x69_pool_embeddings, x70_salted_join, x71_winsorize, x72_impute_nulls,
x73_group_trend, x74_cms_heavy_hitters, x75_corr_matrix, x76_group_entropy,
x77_pivot_events.

Split out of __spark_entry__.py (round 13); registration order is
preserved by dftly_spark/contract/__init__.py importing the waves in
order.  See common.py for the registry and shared fixtures.
"""

from __future__ import annotations

from dftly_spark.sqlgen import exact_sum, portable_round, portable_round_sql
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .common import _TOK, _docs_tok, _prep, _q, _t
from .qseries import _MAX_DF, _SHINGLE_CTE



def _x51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rules document filter: per-doc keep verdict + failed-rule
    reasons, all pure column expressions over one scan (no shuffle)."""
    from dftly_spark.ops.textops import gopher_rules

    _prep(spark)
    return gopher_rules(_t(spark, sf_dir, "documents", fan_out=True), min_words=20)


_q(
    "x51_gopher_rules",
    _x51,
    r"""
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS w
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CASE WHEN len(w) > 0
                  THEN length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE / len(w)
                  ELSE 0.0 END AS mean_wl,
             CASE WHEN len(w) > 0
                  THEN (len(regexp_extract_all(text, '#|…'))
                        + len(regexp_extract_all(text, '\.\.\.')))::DOUBLE / len(w)
                  ELSE 0.0 END AS symbol_ratio,
             CASE WHEN len(w) > 0
                  THEN len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
                       / len(w)
                  ELSE 0.0 END AS alpha_frac,
             len(list_distinct(list_filter(
                 list_transform(w, t -> lower(t)),
                 t -> t IN ('the','and','of','to','a','in','is','it','that','for')
             ))) AS stop_hits
      FROM base
    ),
    v AS (
      SELECT doc_id, n_words,
             -- DuckDB's array_to_string([]) is NULL, Spark's concat_ws is ''
             COALESCE(array_to_string(list_filter([
               CASE WHEN NOT (alpha_frac >= 0.8) THEN 'alpha_frac' END,
               CASE WHEN NOT (mean_wl >= 3.0 AND mean_wl <= 10.0) THEN 'mean_word_len' END,
               CASE WHEN NOT (stop_hits >= 2) THEN 'stopwords' END,
               CASE WHEN NOT (symbol_ratio <= 0.1) THEN 'symbol_ratio' END,
               CASE WHEN NOT (n_words >= 20 AND n_words <= 100000) THEN 'words' END
             ], x -> x IS NOT NULL), ','), '') AS failed_rules
      FROM m
    )
    SELECT doc_id, n_words, failed_rules = '' AS keep, failed_rules FROM v
    """,
)


def _x52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate affix detection: per-doc count of documents sharing its
    normalized first/last-k token run (template headers/footers)."""
    from dftly_spark.ops import shared_affix_counts

    _prep(spark)
    return shared_affix_counts(_docs_tok(spark, sf_dir), k=5, tokens_col=_TOK)


_q(
    "x52_shared_affixes",
    _x52,
    r"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN length(trim(lower(text))) = 0 THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w
      FROM documents
    ),
    a AS (
      SELECT doc_id,
             array_to_string(w[1:5], ' ') AS pre,
             array_to_string(w[greatest(len(w) - 4, 1):len(w)], ' ') AS suf
      FROM base
    ),
    p AS (SELECT pre, COUNT(*) AS prefix_docs FROM a GROUP BY pre),
    s AS (SELECT suf, COUNT(*) AS suffix_docs FROM a GROUP BY suf)
    SELECT a.doc_id, p.prefix_docs, s.suffix_docs
    FROM a JOIN p USING (pre) JOIN s USING (suf)
    """,
)


def _x53(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window aggregation — the overlapping twin of x38,
    gated on batch (same helper runs on streams; windows expand row-locally
    before the ONE keyed aggregation shuffle)."""
    from dftly_spark.streaming import hopping_agg

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    out = hopping_agg(
        ev,
        "ts",
        window="1 hour",
        slide="30 minutes",
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
    "x53_hopping_agg",
    _x53,
    """
    WITH e AS (
      SELECT event_type, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ),
    w AS (
      SELECT event_type, value, us,
             CAST(floor(us / 1800000000.0) AS BIGINT) * 1800000000
               - k * 1800000000 AS start_us
      FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k)
    )
    SELECT start_us, start_us + 3600000000 AS end_us, event_type,
           COUNT(*) AS n, SUM(value) AS total_value
    FROM w
    WHERE us >= start_us AND us < start_us + 3600000000
    GROUP BY start_us, event_type
    """,
)


def _x54_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ verbatim copies of every 10th doc (x05's planted-pair
    pattern, lexical edition), carrying the shared token column."""
    docs = _docs_tok(spark, sf_dir).select("doc_id", "text", _TOK)
    copies = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text", _TOK
    )
    return docs.unionByName(copies)


def _x54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine pairs: inverted-index candidates (never
    all-pairs), term-sorted folds for bit-reproducible doubles.

    Every 10th document gets a verbatim copy (x05's planted-pair pattern,
    lexical edition): a copy shares all its terms with its source, so the
    pair survives any df cap that keeps rare terms — recall is structural.
    ``max_df=300`` splits the corpus's bimodal df distribution at both
    gate scales (rare terms max out near 250 at sf0.1; the ~30
    stop-word-grade terms sit at 78-94%% of the corpus), dropping exactly
    the hot keys that dominate the self-join quadratically while
    contributing ~zero idf weight.
    """
    from dftly_spark.ops import sparse_cosine_pairs

    _prep(spark)
    return sparse_cosine_pairs(
        _x54_corpus(spark, sf_dir),
        threshold=0.6,
        min_df=2,
        max_df=300,
        tokens_col=_TOK,
    )


_q(
    "x54_sparse_cosine",
    _x54,
    r"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 10 = 0
    ),
    base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM aug WHERE length(trim(text)) > 0
    ),
    tf AS (
      SELECT doc_id, t AS term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(w) AS t FROM base)
      GROUP BY doc_id, t
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      HAVING COUNT(*) >= 2 AND COUNT(*) <= 300
    ),
    post AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln(n.n_docs::DOUBLE / dfreq.df) AS w
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    norms AS (
      SELECT doc_id,
             sqrt(list_reduce(list(w * w ORDER BY term), (a, x) -> a + x)) AS nrm
      FROM post GROUP BY doc_id
    ),
    u AS (
      SELECT post.doc_id, post.term, post.w / norms.nrm AS w
      FROM post JOIN norms USING (doc_id)
      WHERE norms.nrm > 0
    ),
    pairs AS (
      SELECT a.doc_id AS id_l, b.doc_id AS id_r,
             list_reduce(list(a.w * b.w ORDER BY a.term), (a2, x) -> a2 + x) AS cos
      FROM u a JOIN u b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_l, id_r, cos FROM pairs WHERE cos >= 0.6
    """,
)


def _x55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over the events stream (epoch-aligned weekly
    cohorts of first activity × distinct active users per later week)."""
    from dftly_spark.ops import cohort_retention

    _prep(spark)
    return cohort_retention(_t(spark, sf_dir, "events"))


_q(
    "x55_cohort_retention",
    _x55,
    """
    WITH e AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ),
    first AS (
      SELECT user_id, CAST(floor(MIN(us) / 604800000000.0) AS BIGINT) AS cohort
      FROM e GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id, CAST(floor(us / 604800000000.0) AS BIGINT) AS w FROM e
    )
    SELECT f.cohort AS cohort_bucket, a.w - f.cohort AS period,
           COUNT(*) AS n_users
    FROM act a JOIN first f USING (user_id)
    GROUP BY f.cohort, a.w - f.cohort
    """,
)


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------


def _x14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-cleaning pipeline: quality gate + near-dup removal.

    The composition these operators exist for — keep documents above a
    quality threshold, then drop the higher-id member of every near-duplicate
    pair (canonical-copy dedup) via a left-anti join.
    """
    from dftly_spark.ops import ngram_jaccard_pairs, quality_score, token_count

    _prep(spark)
    docs = _docs_tok(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        "text",
        quality_score(F.col("text")).alias("quality"),
        token_count(F.col("text")).alias("n_tok"),
    ).where((F.col("quality") >= 0.5) & (F.col("n_tok") >= 10))
    dup_victims = ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        threshold=0.7,
        max_df=_MAX_DF,
        tokens_col=_TOK,
    ).select(F.col("id_r").alias("doc_id"))
    return (
        scored.join(dup_victims, "doc_id", "left_anti")
        .select("doc_id", "quality", "n_tok")
    )


_q(
    "x14_corpus_clean_pipeline",
    _x14,
    f"""
    WITH {_SHINGLE_CTE},
    victims AS (
      SELECT id_r AS doc_id
      FROM shared JOIN sizes x ON x.doc_id = id_l JOIN sizes y ON y.doc_id = id_r
      WHERE s::DOUBLE / (x.n + y.n - s) >= 0.7
    ),
    scored AS (
      SELECT doc_id,
             LEAST(CAST(length(text) AS DOUBLE), 400.0) / 400.0 * 0.4
               + LEAST(CASE WHEN len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) > 0
                   THEN len(list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                     x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x)))::DOUBLE
                     / len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
                   ELSE 0.0 END * 5.0, 1.0) * 0.3
               + (1.0 - LEAST(CASE WHEN length(text) > 0
                   THEN len(regexp_extract_all(text, '[^A-Za-z0-9_\\s]'))::DOUBLE / length(text)
                   ELSE 0.0 END * 4.0, 1.0)) * 0.3 AS quality,
             CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT doc_id, quality, n_tok
    FROM scored
    WHERE quality >= 0.5 AND n_tok >= 10
      AND doc_id NOT IN (SELECT doc_id FROM victims)
    """,
)




# ---------------------------------------------------------------------------
# Round-3 operator family: stream analytics, feature engineering, sampling,
# warehouse history, corpus cards, embedding triage (x57-x66)
# ---------------------------------------------------------------------------


def _x57(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands span coalescing: each event opens a 15-minute
    activity interval; overlapping/touching intervals per user merge into
    spans (ops/sessions.py merge_intervals — one keyed Exchange)."""
    from dftly_spark.ops import merge_intervals

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    iv = ev.select(
        "user_id",
        us.alias("s_us"),
        (us + F.lit(15 * 60 * 1_000_000)).alias("e_us"),
    )
    return merge_intervals(iv, "user_id", "s_us", "e_us", count_col="n_events")


_q(
    "x57_merge_intervals",
    _x57,
    """
    WITH iv AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
             epoch_us(CAST(ts AS TIMESTAMP)) + 900000000 AS e
      FROM events
    ), ord AS (
      SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM iv
    ), brk AS (
      SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS b FROM ord
    ), isl AS (
      SELECT *, sum(b) OVER (PARTITION BY user_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM brk
    )
    SELECT user_id, min(s) AS span_start, max(e) AS span_end,
           count(*) AS n_events
    FROM isl GROUP BY user_id, g
    """,
)


def _x58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead rolling z-score anomaly flags per event_type
    (ops/profile.py rolling_zscore — one keyed window, rows-bounded
    frame)."""
    from dftly_spark.ops import rolling_zscore

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    out = rolling_zscore(
        ev, "event_type", ["ts", "event_id"], "value",
        lookback=50, z_threshold=2.5, min_obs=10,
    )
    return out.select("event_id", "event_type", "value", "zscore", "is_anomaly")


_q(
    "x58_rolling_zscore",
    _x58,
    """
    WITH w AS (
      SELECT event_id, event_type, value,
             avg(value) OVER win AS m,
             stddev_samp(value) OVER win AS sd,
             count(value) OVER win AS c
      FROM events
      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type, value,
           floor((CASE WHEN c >= 10 AND sd > 0 THEN (value - m) / sd END) * 1000000 + 0.5) / 1000000
             AS zscore,
           coalesce(abs(floor((CASE WHEN c >= 10 AND sd > 0
                                   THEN (value - m) / sd END) * 1000000 + 0.5) / 1000000) > 2.5,
                    false) AS is_anomaly
    FROM w
    """,
)


def _x59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history from the event feed: per-user event_type
    versions with validity intervals; heartbeat repeats collapse
    (ops/cdc.py scd2_history — one keyed Exchange, two windows)."""
    from dftly_spark.ops import scd2_history

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    return scd2_history(
        ev, "user_id", "ts", ["event_type"], order_cols=["event_id"]
    )


_q(
    "x59_scd2_history",
    _x59,
    """
    WITH o AS (
      SELECT user_id, ts, event_type, event_id,
             lag(event_type) OVER w AS pv,
             row_number() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), v AS (
      SELECT * FROM o WHERE rn = 1 OR event_type IS DISTINCT FROM pv
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER w2 AS valid_to,
           lead(ts) OVER w2 IS NULL AS is_current
    FROM v
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)


def _x60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement, 20 docs per source, weight =
    n_chars (ops/sampling.py weighted_sample_per_group — Efraimidis-
    Spirakis keys off the deterministic LCG, one keyed window)."""
    from dftly_spark.ops import weighted_sample_per_group

    _prep(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return weighted_sample_per_group(
        docs, "source", "doc_id", "n_chars", k=20, seed=7
    )


def _x60_oracle() -> str:
    from dftly_spark.ops.sampling import _M, mix_sql

    u = mix_sql("doc_id", 7)
    return f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY CASE WHEN n_chars > 0
                             THEN -ln(({u} + 1) / {float(_M + 1)!r}) / n_chars
                             ELSE CAST('infinity' AS DOUBLE) END,
                        doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, source, n_chars FROM keyed WHERE rn <= 20
    """


_q("x60_weighted_sample", _x60, _x60_oracle())


def _x61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary by relative-frequency lift
    (ops/retrieval.py distinctive_terms — the same term-frame build
    BM25/TF-IDF use; lift is pure IEEE divides, engine-exact)."""
    from dftly_spark.ops import distinctive_terms

    _prep(spark)
    return distinctive_terms(
        _docs_tok(spark, sf_dir),
        "source",
        k=10,
        min_group_tf=5,
        tokens_col=_TOK,
    )


_q(
    "x61_distinctive_terms",
    _x61,
    r"""
    WITH base AS (
      SELECT doc_id, source,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ), tf AS (
      SELECT doc_id, any_value(source) AS source, t AS term, count(*) AS tf
      FROM (SELECT doc_id, source, unnest(w) AS t FROM base)
      GROUP BY doc_id, t
    ), gterm AS (
      SELECT source, term, CAST(sum(tf) AS BIGINT) AS gtf
      FROM tf GROUP BY source, term
    ), gtot AS (
      SELECT source, CAST(sum(gtf) AS BIGINT) AS gtot FROM gterm GROUP BY source
    ), cterm AS (
      SELECT term, CAST(sum(gtf) AS BIGINT) AS ctf FROM gterm GROUP BY term
    ), ctot AS (
      SELECT CAST(sum(gtf) AS BIGINT) AS ctot FROM gterm
    ), scored AS (
      SELECT g.source, g.term, g.gtf AS tf,
             (CAST(g.gtf AS DOUBLE) / t.gtot) / (CAST(c.ctf AS DOUBLE) / x.ctot)
               AS lift
      FROM gterm g JOIN gtot t USING (source)
      JOIN cterm c USING (term) CROSS JOIN ctot x
      WHERE g.gtf >= 5
    )
    SELECT source, term, tf, lift
    FROM (SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY lift DESC, term) AS rk
          FROM scored)
    WHERE rk <= 10
    """,
)


def _x62(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space triage: the 50 vectors farthest from the corpus
    centroid by cosine (ops/similarity.py centroid_outliers — dim-wide
    centroid agg + sanctioned 1-row broadcast + TakeOrdered)."""
    from dftly_spark.ops import centroid_outliers

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    return centroid_outliers(emb, "vec_id", "embedding", k=50)


_q(
    "x62_centroid_outliers",
    _x62,
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), d AS (
      SELECT vec_id, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM e
    ), cent AS (
      SELECT pos, avg(val) AS c FROM d GROUP BY pos
    ), nb AS (
      SELECT sqrt(sum(c * c)) AS nc FROM cent
    ), sc AS (
      SELECT d.vec_id,
             sum(d.val * cent.c) AS dp,
             sqrt(sum(d.val * d.val)) AS na
      FROM d JOIN cent USING (pos) GROUP BY d.vec_id
    )
    SELECT vec_id, floor((dp / (na * nc)) * 1000000 + 0.5) / 1000000 AS centroid_cos
    FROM sc CROSS JOIN nb
    ORDER BY centroid_cos ASC, vec_id ASC
    LIMIT 50
    """,
)


def _x63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type rank features: decile bucket, percent_rank, cume_dist of
    the event value (ops/profile.py ntile_features — one keyed window;
    ranks are count ratios, engine-exact)."""
    from dftly_spark.ops import ntile_features

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = ntile_features(ev, "event_type", "value", ["event_id"], buckets=10)
    return out.select(
        "event_id",
        "event_type",
        "value",
        F.col("bucket").cast("bigint").alias("bucket"),
        "pct_rank",
        "cume",
    )


_q(
    "x63_ntile_features",
    _x63,
    """
    SELECT event_id, event_type, value,
           ntile(10) OVER w AS bucket,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)


def _x64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of the carry-forward value signal
    (ops/sessions.py time_weighted_avg — lead + agg on one keyed
    Exchange)."""
    from dftly_spark.ops import time_weighted_avg

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    return time_weighted_avg(ev, "user_id", "ts", "value")


_q(
    "x64_time_weighted_avg",
    _x64,
    """
    WITH s AS (
      SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), value) AS nt
      FROM events
    )
    SELECT user_id,
           floor((CASE WHEN max(t) - min(t) > 0
                      THEN sum(CASE WHEN nt IS NOT NULL
                                    THEN value * (nt - t) END)
                           / (max(t) - min(t))
                      ELSE min(value) END) * 1000000 + 0.5) / 1000000 AS twa,
           max(t) - min(t) AS span_us,
           count(*) AS n_events
    FROM s GROUP BY user_id
    """,
)


def _x65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key heavy-hitter report for orders.o_custkey — the diagnostic
    read before salting/AQE-skew decisions (ops/profile.py
    key_skew_profile — keyed count + TakeOrdered + 1-row total
    broadcast)."""
    from dftly_spark.ops import key_skew_profile

    _prep(spark)
    return key_skew_profile(_t(spark, sf_dir, "orders"), "o_custkey", top_k=25)


_q(
    "x65_key_skew",
    _x65,
    """
    WITH c AS (
      SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS t FROM c
    ), top AS (
      SELECT key, n FROM c ORDER BY n DESC, key LIMIT 25
    )
    SELECT key, n, CAST(n AS DOUBLE) / t AS share,
           CAST(sum(n) OVER (ORDER BY n DESC, key
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / t AS cum_share
    FROM top CROSS JOIN tot
    """,
)


def _x66(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical Markov transition matrix over per-user event_type
    sequences (ops/sessions.py transition_matrix — one keyed window into
    a vocabulary-sized agg; probabilities are count ratios,
    engine-exact)."""
    from dftly_spark.ops import transition_matrix

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type", "event_id")
    return transition_matrix(
        ev, "user_id", "ts", "event_type", order_cols=("event_id",)
    )


_q(
    "x66_transition_matrix",
    _x66,
    """
    WITH s AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    )
    SELECT event_type AS from_state, nxt AS to_state,
           count(*) AS n,
           CAST(count(*) AS DOUBLE)
             / sum(count(*)) OVER (PARTITION BY event_type) AS p
    FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2
    """,
)




def _x67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bidirectional customer-supplier trade graph
    (ops/graph.py — per-iteration edge join + dst-keyed sum, fixed
    iteration budget so the computation is a deterministic function of
    the edge list; unnormalized GraphX-style formulation, mass sums to N;
    DuckDB replays it with a recursive CTE)."""
    from dftly_spark.ops import pagerank

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # integer node ids (customer = 2k, supplier = 2k+1): 8-byte shuffle
    # keys where strings would triple the exchanged bytes over the 1.2M
    # edges this graph produces
    pairs = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("c"),
        (F.col("l_suppkey") * 2 + 1).alias("s"),
    )
    # one row per join row in each direction; the operator collapses the
    # repeats
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return pagerank(edges, iters=5, damping=0.85)


_q(
    "x67_pagerank",
    _x67,
    """
    WITH pairs AS (
      SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), edges AS (
      SELECT c AS src, s AS dst FROM pairs
      UNION ALL SELECT s, c FROM pairs
    ), nodes AS (
      SELECT DISTINCT src AS n FROM edges
    ), deg AS (
      SELECT src, count(*) AS deg FROM edges GROUP BY src
    )
    SELECT n AS node, floor((r) * 1000000 + 0.5) / 1000000 AS rank FROM (
      WITH RECURSIVE pr AS (
        SELECT 0 AS it, n, CAST(1.0 AS DOUBLE) AS r FROM nodes
        UNION ALL
        SELECT pr.it + 1, e.dst AS n,
               (1.0 - 0.85) + 0.85 * sum(pr.r / deg.deg) AS r
        FROM pr JOIN edges e ON pr.n = e.src JOIN deg ON e.src = deg.src
        WHERE pr.it < 5
        GROUP BY pr.it, e.dst
      )
      SELECT * FROM pr WHERE it = 5
    )
    """,
)


def _x68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval eval harness: per-customer supplier rankings (by lineitem
    count — exact integer ordering) scored against a ">=2 distinct orders"
    relevance set via ops/retrieval.py ranking_metrics.  All three metrics
    are count ratios — engine-exact."""
    from pyspark.sql import Window

    from dftly_spark.ops import ranking_metrics

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        "o_custkey", "l_suppkey", "o_orderkey"
    )
    counts = joined.groupBy("o_custkey", "l_suppkey").agg(
        F.count(F.lit(1)).alias("_n"),
        F.countDistinct("o_orderkey").alias("_n_ord"),
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("_n").desc(), F.col("l_suppkey").asc()
    )
    run = counts.select(
        F.col("o_custkey").alias("query_id"),
        F.col("l_suppkey").alias("doc_id"),
        F.row_number().over(w).alias("rank"),
    )
    qrels = counts.where(F.col("_n_ord") >= 2).select(
        F.col("o_custkey").alias("query_id"), F.col("l_suppkey").alias("doc_id")
    )
    return ranking_metrics(run, qrels, k=5)


_q(
    "x68_ranking_metrics",
    _x68,
    """
    WITH counts AS (
      SELECT o_custkey, l_suppkey, count(*) AS n,
             count(DISTINCT o_orderkey) AS n_ord
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_custkey, l_suppkey
    ), run AS (
      SELECT o_custkey AS query_id, l_suppkey AS doc_id,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY n DESC, l_suppkey) AS rank
      FROM counts
    ), qrels AS (
      SELECT o_custkey AS query_id, l_suppkey AS doc_id
      FROM counts WHERE n_ord >= 2
    ), truth AS (
      SELECT query_id, count(*) AS n_rel FROM qrels GROUP BY query_id
    ), joined AS (
      SELECT t.query_id, t.n_rel, r.doc_id, r.rank,
             r.doc_id IN (SELECT doc_id FROM qrels q
                          WHERE q.query_id = t.query_id) AS hit
      FROM truth t LEFT JOIN run r ON t.query_id = r.query_id
    )
    SELECT query_id,
           CAST(count(*) FILTER (WHERE hit AND rank <= 5) AS DOUBLE) / any_value(n_rel)
             AS recall_at_k,
           CAST(count(*) FILTER (WHERE hit AND rank <= 5) AS DOUBLE) / 5
             AS precision_at_k,
           coalesce(1.0 / min(rank) FILTER (WHERE hit), 0.0) AS mrr
    FROM joined GROUP BY query_id
    """,
)


def _x69(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean-pooled embedding prototypes in long form
    (ops/similarity.py pool_embeddings — one (group, dim)-keyed agg with
    map-side combine)."""
    from dftly_spark.ops import pool_embeddings

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    return pool_embeddings(emb, "label", "embedding", how="mean")


_q(
    "x69_pool_embeddings",
    _x69,
    """
    WITH d AS (
      SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
             generate_subscripts(embedding, 1) - 1 AS pos
      FROM embeddings
    )
    SELECT label, pos, floor((avg(v)) * 1000000 + 0.5) / 1000000 AS val FROM d GROUP BY label, pos
    """,
)




def _x70(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof salted equi-join (ops/scale.py salted_join): orders
    fan out over 16 deterministic sub-keys, customers replicate
    row-locally; results are exactly the plain join's (the oracle IS the
    plain join), summarized per nation with exact aggregates."""
    from dftly_spark.ops import salted_join

    _prep(spark)
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    cust = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "custkey")
    joined = salted_join(orders, cust, "custkey", salt=16, how="inner")
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("custkey").alias("n_custs"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


_q(
    "x70_salted_join",
    _x70,
    """
    SELECT c_nationkey, count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_custs,
           min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)


def _x71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization of the event value (ops/profile.py
    winsorize) — exact percentile clamping with the bounds on the
    floor-scale grid (the r14 sf1.0 gate caught a 1-ulp interpolation
    divergence between Spark percentile and DuckDB quantile_cont on a
    1M-row group; smaller scales never hit it)."""
    from dftly_spark.ops import winsorize

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = winsorize(ev, "event_type", "value", lower=0.05, upper=0.95)
    return out.select("event_id", "event_type", "value", "clamped", "was_clamped")


_q(
    "x71_winsorize",
    _x71,
    f"""
    WITH b AS (
      SELECT event_type AS g,
             {portable_round_sql('quantile_cont(value, 0.05)')} AS lo,
             {portable_round_sql('quantile_cont(value, 0.95)')} AS hi
      FROM events GROUP BY event_type
    )
    SELECT event_id, event_type, value,
           least(greatest(value, lo), hi) AS clamped,
           coalesce(value != least(greatest(value, lo), hi), false)
             AS was_clamped
    FROM events JOIN b ON event_type = b.g
    """,
)


def _x72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise null imputation (ops/profile.py impute_nulls): median
    fill for a numeric column, smallest-value-tie-break mode fill for a
    categorical one, per event_type.  Nulls are planted deterministically
    so the oracle plants the same ones."""
    from dftly_spark.ops import impute_nulls

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 7 != 0, F.col("value")).alias("value_n"),
        F.when(F.col("event_id") % 11 != 0, F.col("props")).alias("props_n"),
    )
    out = impute_nulls(
        ev, "event_type", {"value_n": "median", "props_n": "mode"}
    )
    return out.select("event_id", "event_type", "value_n", "props_n")


_q(
    "x72_impute_nulls",
    _x72,
    """
    WITH ev AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 7 != 0 THEN value END AS value_n,
             CASE WHEN event_id % 11 != 0 THEN props END AS props_n
      FROM events
    ), med AS (
      SELECT event_type AS g, quantile_cont(value_n, 0.5) AS fill_v
      FROM ev GROUP BY event_type
    ), mode_rank AS (
      SELECT event_type AS g, props_n AS fill_p,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY count(*) DESC, props_n ASC) AS rk
      FROM ev WHERE props_n IS NOT NULL GROUP BY event_type, props_n
    ), md AS (
      SELECT g, fill_p FROM mode_rank WHERE rk = 1
    )
    SELECT event_id, event_type,
           coalesce(value_n, fill_v) AS value_n,
           coalesce(props_n, fill_p) AS props_n
    FROM ev JOIN med ON event_type = med.g JOIN md ON event_type = md.g
    """,
)




def _x73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS engagement trend (ops/profile.py group_trend):
    closed-form slope/intercept/r2 from one keyed sufficient-statistics
    aggregation, x centered per key for conditioning."""
    from dftly_spark.ops import group_trend

    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros("ts") / F.lit(3_600_000_000.0)).alias("t_h"),
        "value",
    )
    return group_trend(ev, "user_id", "t_h", "value")


_q(
    "x73_group_trend",
    _x73,
    """
    WITH base AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0 AS x,
             CAST(value AS DOUBLE) AS y
      FROM events
    ), c AS (
      SELECT user_id, x - min(x) OVER (PARTITION BY user_id) AS x, y FROM base
    ), s AS (
      SELECT user_id, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
             sum(x * y) AS sxy, sum(y * y) AS syy
      FROM c GROUP BY user_id
    )
    SELECT user_id, n,
           floor((CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
                      THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END) * 1000000 + 0.5) / 1000000
             AS slope,
           floor(((sy - (CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
                             THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END)
                       * sx) / n) * 1000000 + 0.5) / 1000000 AS intercept,
           floor((CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
                       AND n * syy - sy * sy > 0
                      THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                           / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END) * 1000000 + 0.5) / 1000000
             AS r2
    FROM s
    """,
)


def _x74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy-hitter estimates (ops/sketch.py): the sketch is a
    (row, bucket, n) frame from ONE map-side-combined aggregation whose
    width is depth x width cells regardless of key cardinality; estimates
    never undercount (checked against exact counts in the output)."""
    from dftly_spark.ops import cms_build, cms_estimate

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id", depth=4, width=1024)
    probes = spark.range(50).select(F.col("id").alias("user_id"))
    est = cms_estimate(sketch, probes, "user_id", depth=4, width=1024)
    exact = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("exact")
    )
    return est.join(exact, "key", "left").select(
        "key", "est", F.coalesce("exact", F.lit(0)).alias("exact")
    )


_q(
    "x74_cms_heavy_hitters",
    _x74,
    """
    WITH rows(r) AS (SELECT unnest([0, 1, 2, 3])),
    cells AS (
      SELECT r.r AS row,
             ((user_id * 1103515245 + 12345 + r.r * 1000 + 1) % 2147483648)
               % 1024 AS bucket
      FROM events CROSS JOIN rows r
    ), sk AS (
      SELECT row, bucket, CAST(count(*) AS BIGINT) AS n
      FROM cells GROUP BY row, bucket
    ), probe_cells AS (
      SELECT k.key, r.r AS row,
             ((k.key * 1103515245 + 12345 + r.r * 1000 + 1) % 2147483648)
               % 1024 AS bucket
      FROM (SELECT unnest(range(50)) AS key) k CROSS JOIN rows r
    ), est AS (
      SELECT key, CAST(min(coalesce(n, 0)) AS BIGINT) AS est
      FROM probe_cells LEFT JOIN sk USING (row, bucket) GROUP BY key
    ), exact AS (
      SELECT user_id AS key, CAST(count(*) AS BIGINT) AS exact
      FROM events GROUP BY user_id
    )
    SELECT key, est, coalesce(exact, 0) AS exact
    FROM est LEFT JOIN exact USING (key)
    """,
)




def _x75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem metrics
    (ops/profile.py corr_matrix): k sums + k^2 cross-sums in ONE
    map-side-combined pass, formula spelled from raw sums so the oracle
    replays the identical expression structure."""
    from dftly_spark.ops import corr_matrix

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def _x75_oracle() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    sums = ["count(*) AS n"]
    for c in cols:
        sums.append(f"sum(CAST({c} AS DOUBLE)) AS s_{c}")
        sums.append(f"sum(CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE)) AS ss_{c}")
    pair_sql = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            sums.append(
                f"sum(CAST({a} AS DOUBLE) * CAST({b} AS DOUBLE)) AS sp_{a}_{b}"
            )
            pair_sql.append(f"""
      SELECT '{a}' AS col_x, '{b}' AS col_y,
             floor((CASE WHEN n * ss_{a} - s_{a} * s_{a} > 0
                         AND n * ss_{b} - s_{b} * s_{b} > 0
                        THEN (n * sp_{a}_{b} - s_{a} * s_{b})
                             / sqrt((n * ss_{a} - s_{a} * s_{a})
                                    * (n * ss_{b} - s_{b} * s_{b})) END) * 1000000 + 0.5) / 1000000
               AS corr
      FROM w""")
    return (
        "WITH w AS (SELECT CAST(count(*) AS DOUBLE) AS n, "
        + ", ".join(sums[1:])
        + " FROM lineitem) "
        + " UNION ALL ".join(pair_sql)
    )


_q("x75_corr_matrix", _x75, _x75_oracle())


def _x76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity: Shannon entropy of the event-type
    distribution (ops/profile.py group_entropy — two keyed aggs, the
    c*ln(c) fold rounded below cross-engine ln wobble)."""
    from dftly_spark.ops import group_entropy

    _prep(spark)
    return group_entropy(_t(spark, sf_dir, "events"), "user_id", "event_type")


_q(
    "x76_group_entropy",
    _x76,
    """
    WITH counts AS (
      SELECT user_id, coalesce(event_type, chr(0) || 'null') AS cat,
             count(*) AS c
      FROM events GROUP BY user_id, cat
    )
    SELECT user_id, CAST(sum(c) AS BIGINT) AS n_rows,
           count(*) AS n_cats,
           floor((ln(CAST(sum(c) AS DOUBLE))
                 - sum(c * ln(CAST(c AS DOUBLE))) / sum(c)) * 1000000 + 0.5) / 1000000 AS entropy
    FROM counts GROUP BY user_id
    """,
)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _x77(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-user activity matrix (ops/reshape.py pivot_wide): pivot
    event_type into one summed column per type.  Explicit ``values`` pins
    the schema and keeps the plan at ONE keyed aggregation — the pivoted
    columns are conditional aggregates with map-side combine, no second
    pass, no driver-side distinct.  Sums rounded to 6 to absorb
    cross-engine float addition order."""
    from dftly_spark.ops import pivot_wide

    _prep(spark)
    wide = pivot_wide(
        _t(spark, sf_dir, "events"),
        ["user_id"],
        "event_type",
        "value",
        values=_EVENT_TYPES,
        agg="sum",
    )
    return wide.select(
        "user_id", *[portable_round(F.col(t), 6).alias(t) for t in _EVENT_TYPES]
    )


_q(
    "x77_pivot_events",
    _x77,
    "SELECT user_id, "
    + ", ".join(
        f"floor((sum(CASE WHEN event_type = '{t}' THEN value END)) * 1000000 + 0.5) / 1000000 AS {t}"
        for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY user_id",
)
