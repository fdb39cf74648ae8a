"""Extension wave 8 (x151-x155, round 13): hybrid-retrieval RRF fusion,
hard-negative mining, DoReMi excess-loss mixture weights, the pair-level
dedup quality metric, and the mixture-drift KL report.

Registers (in order): x151_rrf_fusion, x152_hard_negatives,
x153_doremi_weights, x154_pair_quality, x155_mixture_kl.

Split-package convention: registration order is preserved by
dftly_spark/contract/__init__.py importing the waves in order.  See
common.py for the registry and shared fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dftly_spark.sqlgen import portable_round_sql

from .common import _prep, _q, _t
from .ext1 import _x11_oracle

#: x06's exact-cosine ranking as a reusable oracle CTE body (unit-normalized
#: corpus, query set vec_id < 5, broadcast-NL scoring) — x152 embeds it and
#: x151 reuses x06/x11's full SQL; cos values replay bit-exactly via
#: list_dot_product (established by the x06/x150 gates).
_COS_SCORED_CTE = """
    u AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM u WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id, list_dot_product(qv, c.v) AS cos
      FROM u c CROSS JOIN q)
"""


def _x151(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (ops/retrieval.py rrf_fuse, Cormack et al.
    2009) of the exact cosine ranking (x06's configuration) and the
    hyperplane-LSH approximate ranking (x11's) — the hybrid-retrieval
    ensemble shape (here: exact ⊕ approximate over the same corpus, so
    the whole pipeline stays oracle-replayable).  Scores are
    1/(60+rank) sums on the floor-scale grid; re-ranked by fused score
    with doc-id tie-break."""
    from dftly_spark.ops import brute_force_topk, lsh_bucket_topk, rrf_fuse

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # k=10 on both rankings: the oracle embeds x06's and x11's full SQL
    # replays verbatim, and both are k=10 configurations
    a = brute_force_topk(emb, qs, k=10)
    b = lsh_bucket_topk(emb, qs, k=10, n_planes=6, seed=42, dim=64)
    return rrf_fuse(
        [a, b], query_col="query_id", doc_col="vec_id", topk=10
    ).select(
        "query_id",
        "vec_id",
        F.col("n_lists").cast("int").alias("n_lists"),
        "rrf",
        "rank",
    )


def _x151_oracle() -> str:
    truth_sql = _DEFS_X06_SQL()
    approx_sql = _x11_oracle()
    rrf = portable_round_sql("sum(1.0 / (60 + _rk))", 9)
    return f"""
    WITH a AS (SELECT query_id, vec_id, rank FROM ({truth_sql})),
    b AS (SELECT query_id, vec_id, rank FROM ({approx_sql})),
    -- per-list best rank (dedup guard, mirrors rrf_fuse's input dedup)
    parts AS (
      SELECT query_id, vec_id, min(rank) AS _rk FROM a GROUP BY 1, 2
      UNION ALL
      SELECT query_id, vec_id, min(rank) AS _rk FROM b GROUP BY 1, 2
    ),
    fused AS (
      SELECT query_id, vec_id,
             CAST(count(*) AS INT) AS n_lists,
             {rrf} AS rrf
      FROM parts GROUP BY 1, 2
    )
    SELECT query_id, vec_id, n_lists, rrf,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf DESC, vec_id) AS INT) AS rank
    FROM fused
    QUALIFY rank <= 10
    """


def _DEFS_X06_SQL() -> str:
    from .common import _DEFS

    return _DEFS["x06_cosine_topk"][1]


_q("x151_rrf_fusion", _x151, _x151_oracle)


def _x152(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (ops/similarity.py hard_negatives): per query
    the top-10 most-similar corpus vectors that are not among the
    query's labeled positives (here: its exact top-3, the typical
    "labeled positives" shape) and sit below the sim_cap=0.99
    near-positive safety band (RocketQA's false-negative filter).  Same
    broadcast-NL scoring shape as x06 — query set broadcast, one corpus
    scan, gates prune before the rank window."""
    from dftly_spark.ops import brute_force_topk, hard_negatives

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pos = brute_force_topk(emb, qs, k=3).select("query_id", "vec_id")
    return hard_negatives(emb, qs, pos, k=10, sim_cap=0.99)


_q(
    "x152_hard_negatives",
    _x152,
    f"""
    WITH {_COS_SCORED_CTE},
    pos AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS _rk
      FROM scored QUALIFY _rk <= 3
    ),
    neg AS (
      SELECT s.query_id, s.vec_id, s.cos
      FROM scored s
      WHERE s.cos < 0.99
        AND NOT EXISTS (SELECT 1 FROM pos p
                        WHERE p.query_id = s.query_id AND p.vec_id = s.vec_id)
    )
    SELECT query_id, vec_id, cos,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, vec_id) AS INT) AS rank
    FROM neg
    QUALIFY rank <= 10
    """,
)


def _x153(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi excess-loss mixture weights (ops/lm.py doremi_weights, Xie
    et al. 2023): per-language mean clipped excess loss → temperature
    softmax with a uniform floor.  Losses are synthesized as exact
    small-integer ratios of doc_id (engine-identical doubles), with a
    planted NULL stripe (doc_id % 31 = 0) exercising the documented
    null-skip policy."""
    from dftly_spark.ops import doremi_weights

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        F.when(F.col("doc_id") % 31 != 0, (F.col("doc_id") % 13) / F.lit(7.0))
        .alias("proxy_loss"),
        ((F.col("doc_id") % 5) / F.lit(3.0)).alias("ref_loss"),
    )
    return doremi_weights(
        base, "lang", "proxy_loss", "ref_loss", temperature=0.5, floor=0.2
    )


def _x153_oracle() -> str:
    # the CASE guard mirrors the op's null-PROPAGATING clip: DuckDB's
    # greatest() also skips nulls, so the clip must stay inside the guard
    excess = portable_round_sql(
        "coalesce(avg(CASE WHEN doc_id % 31 != 0 "
        "THEN greatest((doc_id % 13) / 7.0 - (doc_id % 5) / 3.0, 0.0) END), 0.0)"
    )
    weight = portable_round_sql("0.8 * _e / _Z + 0.2 / _K")
    return f"""
    WITH dom AS (
      SELECT lang, count(*) AS n_rows, {excess} AS excess
      FROM documents WHERE lang IS NOT NULL GROUP BY lang
    ),
    -- max-shifted softmax, mirroring the op's overflow guard
    m AS (SELECT max(excess) AS _mx FROM dom),
    e AS (SELECT lang, n_rows, excess, exp((excess - _mx) / 0.5) AS _e
          FROM dom CROSS JOIN m),
    z AS (SELECT sum(_e) AS _Z, count(*) AS _K FROM e)
    SELECT lang, n_rows, excess, {weight} AS weight
    FROM e CROSS JOIN z
    """


_q("x153_doremi_weights", _x153, _x153_oracle)


def _x154(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup operating-point evaluation (ops/dedup.py pair_quality): the
    LSH near-dup pair set at threshold 0.45 / 6 planes scored against the
    exact brute-force pair set on a corpus slice (vec_id % 4 = 0, no
    planted copies — so LSH recall is genuinely < 1 and the metric is
    non-trivial; precision is 1.0 by construction since LSH verifies
    exact cosine in-bucket).  The oracle replays BOTH pair generators —
    the bucket join with inlined seeded planes (the x11 mechanism) and
    the brute all-pairs scan — and recomputes the counts, so the gate
    verifies generator AND metric end-to-end."""
    from dftly_spark.ops import embedding_dup_pairs, pair_quality

    _prep(spark)
    sub = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % 4 == 0)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    pred = embedding_dup_pairs(
        sub, "vec_id", "embedding", threshold=0.45, method="lsh", n_planes=6, dim=64
    )
    truth = embedding_dup_pairs(sub, "vec_id", "embedding", threshold=0.45)
    return pair_quality(pred, truth)


def _x154_oracle() -> str:
    from dftly_spark.ops.dedup import _hyperplanes

    planes = _hyperplanes(64, 6, 42)
    rows = ",\n      ".join(
        f"({i}, {p!r}::DOUBLE[])" for i, p in enumerate(planes)
    )
    return f"""
    WITH planes(i, p) AS (VALUES
      {rows}),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          WHERE vec_id % 4 = 0),
    -- sign buckets over the RAW vectors (the Spark op buckets before
    -- normalizing)
    buckets AS (
      SELECT c.vec_id,
             CAST(sum(CASE WHEN list_dot_product(c.v, planes.p) > 0
                           THEN (1::BIGINT << planes.i) ELSE 0 END) AS BIGINT) AS bucket
      FROM c CROSS JOIN planes GROUP BY c.vec_id
    ),
    u AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
          FROM c),
    pred AS (
      SELECT a.vec_id AS _a, b.vec_id AS _b
      FROM buckets a JOIN buckets b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      JOIN u ua ON ua.vec_id = a.vec_id
      JOIN u ub ON ub.vec_id = b.vec_id
      WHERE list_dot_product(ua.v, ub.v) >= 0.45
    ),
    truth AS (
      SELECT a.vec_id AS _a, b.vec_id AS _b
      FROM u a JOIN u b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) >= 0.45
    ),
    n AS (
      SELECT (SELECT count(*) FROM pred) AS n_pred,
             (SELECT count(*) FROM truth) AS n_truth,
             (SELECT count(*) FROM pred
              WHERE EXISTS (SELECT 1 FROM truth t
                            WHERE t._a = pred._a AND t._b = pred._b)) AS n_hit
    )
    SELECT n_pred, n_truth, n_hit,
           CASE WHEN n_pred > 0 THEN n_hit / n_pred END AS precision,
           CASE WHEN n_truth > 0 THEN n_hit / n_truth END AS recall,
           CASE WHEN n_pred > 0 AND n_truth > 0
                     AND (n_hit / n_pred + n_hit / n_truth) > 0
                THEN 2 * (n_hit / n_pred) * (n_hit / n_truth)
                     / (n_hit / n_pred + n_hit / n_truth) END AS f1
    FROM n
    """


_q("x154_pair_quality", _x154, _x154_oracle)


def _x155(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-drift report (ops/sampling.py mixture_kl): the corpus's
    observed per-language token mass vs a target mixture spec — per-group
    KL contributions, the re-balance trigger metric.  zh is deliberately
    absent from the target (mixture specs are exhaustive; absent groups
    are excluded, same rule as mixture_sample), and mass is the integer
    n_chars column so the sums are exact in both engines."""
    from dftly_spark.ops import mixture_kl

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return mixture_kl(
        docs,
        "lang",
        {"en": 0.5, "de": 0.15, "es": 0.15, "fr": 0.2},
        weight_col="n_chars",
    ).select(
        "lang",
        "n_rows",
        F.col("mass").cast("double").alias("mass"),
        "observed",
        "target",
        "kl_term",
    )


def _x155_oracle() -> str:
    # 0·ln 0 = 0 guard mirrors ops/sampling.py mixture_kl: a zero-mass
    # group must contribute an explicit 0.0, not ln(0)'s -inf/null.
    kl = (
        "CASE WHEN mass > 0 THEN "
        + portable_round_sql("(mass / _T) * ln((mass / _T) / target)")
        + " ELSE 0.0 END"
    )
    return f"""
    WITH tgt(lang, target) AS (VALUES
      -- ::DOUBLE: bare decimal literals type as DECIMAL in DuckDB and the
      -- local oracle replica compares types strictly (Spark side is double)
      ('en', 0.5::DOUBLE), ('de', 0.15::DOUBLE),
      ('es', 0.15::DOUBLE), ('fr', 0.2::DOUBLE)),
    grp AS (
      SELECT d.lang, count(*) AS n_rows,
             CAST(sum(CAST(d.n_chars AS DOUBLE)) AS DOUBLE) AS mass,
             any_value(t.target) AS target
      FROM documents d JOIN tgt t ON t.lang = d.lang
      WHERE d.n_chars IS NOT NULL AND d.n_chars >= 0
      GROUP BY d.lang
    ),
    z AS (SELECT sum(mass) AS _T FROM grp)
    SELECT lang, n_rows, mass, mass / _T AS observed, target,
           {kl} AS kl_term
    FROM grp CROSS JOIN z
    """


_q("x155_mixture_kl", _x155, _x155_oracle)
