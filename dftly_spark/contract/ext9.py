"""Extension wave 9 (x156-x160, round 14): temperature (α) sampling
weights, tokenizer fertility stats, vocabulary coverage / OOV rates,
per-group Spearman rank correlation, and cluster-balanced sampling.

Registers (in order): x156_alpha_sampling, x157_token_fertility,
x158_vocab_coverage, x159_spearman_corr, x160_cluster_balanced.

Split-package convention: registration order is preserved by
dftly_spark/contract/__init__.py importing the waves in order.  See
common.py for the registry and shared fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dftly_spark.sqlgen import portable_round_sql

from .common import _TOK, _docs_tok, _lloyd_first_values, _prep, _q, _t

#: the canonical whitespace tokenization as a DuckDB expression (lowered):
#: split on \s+ and drop boundary empties — the ops.textops.tokens mirror
#: already established by the x24/x31/x45 gates.
_TOK_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')"

#: the BPE-ish subword count mirror (ops.textops.BPE_PATTERN), established
#: by the x07 gate.
_BPE_SQL = r"len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))"


def _x156(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual sampling weights (ops/sampling.py
    alpha_sampling, the mT5/XLM-R α-sampling recipe): per-language
    char-mass shares → normalized share^0.3 sampling weights + the
    per-language boost factor.  The heuristic cousin of x153's learned
    DoReMi weights and the target-producer for x155's drift monitor."""
    from dftly_spark.ops import alpha_sampling

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return alpha_sampling(docs, "lang", alpha=0.3, weight_col="n_chars")


def _x156_oracle() -> str:
    e = portable_round_sql("pow(mass / _T, 0.3)")
    w = portable_round_sql("_e / _Z")
    b = portable_round_sql("(_e / _Z) / share")
    return f"""
    WITH grp AS (
      SELECT lang, count(*) AS n_rows,
             CAST(sum(CAST(n_chars AS DOUBLE)) AS DOUBLE) AS mass
      FROM documents
      WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND n_chars >= 0
      GROUP BY lang
      HAVING sum(CAST(n_chars AS DOUBLE)) > 0
    ),
    t AS (SELECT sum(mass) AS _T FROM grp),
    p AS (
      SELECT lang, n_rows, mass, mass / _T AS share, {e} AS _e
      FROM grp CROSS JOIN t
    ),
    z AS (SELECT sum(_e) AS _Z FROM p)
    SELECT lang, n_rows, mass, share, {w} AS weight, {b} AS boost
    FROM p CROSS JOIN z
    """


_q("x156_alpha_sampling", _x156, _x156_oracle)


def _x157(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (ops/textops.py token_fertility,
    the mT5 fertility table): subword-tokens-per-word and
    chars-per-token from one keyed aggregation — exact integer sums,
    single-division ratios, no rounding grid needed."""
    from dftly_spark.ops import token_fertility

    _prep(spark)
    return token_fertility(
        _docs_tok(spark, sf_dir), "lang", tokens_col=_TOK
    )


_q(
    "x157_token_fertility",
    _x157,
    f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS n_chars,
           CAST(sum(coalesce(len({_TOK_SQL}), 0)) AS BIGINT) AS n_words,
           CAST(sum(coalesce({_BPE_SQL}, 0)) AS BIGINT) AS n_tokens,
           CASE WHEN sum(coalesce(len({_TOK_SQL}), 0)) > 0
                THEN CAST(sum(coalesce({_BPE_SQL}, 0)) AS DOUBLE)
                     / sum(coalesce(len({_TOK_SQL}), 0)) END AS fertility,
           CASE WHEN sum(coalesce({_BPE_SQL}, 0)) > 0
                THEN CAST(sum(coalesce(length(text), 0)) AS DOUBLE)
                     / sum(coalesce({_BPE_SQL}, 0)) END AS chars_per_token
    FROM documents
    WHERE lang IS NOT NULL
    GROUP BY lang
    """,
)


def _x158(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against a corpus-derived vocabulary
    (ops/textops.py vocab_coverage): vocab = tokens with corpus term
    frequency >= 50 — the "will this vocab cover the corpus" QA gate.
    The vocabulary joins as a broadcast; per-doc counts are one keyed
    aggregation over token instances."""
    from dftly_spark.ops import vocab_coverage

    _prep(spark)
    docs = _docs_tok(spark, sf_dir)
    vocab = (
        docs.select(F.explode(F.col(_TOK)).alias("term"))
        .groupBy("term")
        .count()
        .where(F.col("count") >= 50)
        .select("term")
    )
    return vocab_coverage(docs, vocab, tokens_col=_TOK)


_q(
    "x158_vocab_coverage",
    _x158,
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
    ),
    v AS (SELECT term FROM tok GROUP BY term HAVING count(*) >= 50),
    c AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
      FROM tok t LEFT JOIN v ON t.term = v.term
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           coalesce(c.n_tokens, 0) AS n_tokens,
           coalesce(c.n_oov, 0) AS n_oov,
           CASE WHEN coalesce(c.n_tokens, 0) > 0
                THEN CAST(c.n_oov AS DOUBLE) / c.n_tokens END AS oov_rate
    FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id
    """,
)


def _x159(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Spearman rank correlation (ops/quality.py spearman_corr)
    of quantity vs extended price within each return flag — the
    scorer-agreement metric computed from fractional (average) ranks via
    group-partitioned windows and one moment aggregation."""
    from dftly_spark.ops import spearman_corr

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    return spearman_corr(li, "l_returnflag", "l_quantity", "l_extendedprice")


def _x159_oracle() -> str:
    rho = portable_round_sql("_cov / sqrt(_vx * _vy)")
    return f"""
    WITH base AS (
      SELECT l_returnflag AS grp,
             CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    ranked AS (
      SELECT grp,
             rank() OVER (PARTITION BY grp ORDER BY x)
               + (count(*) OVER (PARTITION BY grp, x) - 1) / 2.0 AS rx,
             rank() OVER (PARTITION BY grp ORDER BY y)
               + (count(*) OVER (PARTITION BY grp, y) - 1) / 2.0 AS ry
      FROM base
    ),
    m AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             covar_pop(rx, ry) AS _cov,
             var_pop(rx) AS _vx, var_pop(ry) AS _vy
      FROM ranked GROUP BY grp
    )
    SELECT grp AS l_returnflag, n,
           CASE WHEN n >= 2 AND _vx > 0 AND _vy > 0 THEN {rho} END
             AS spearman
    FROM m
    """


_q("x159_spearman_corr", _x159, _x159_oracle)


def _x160(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling (ops/sampling.py cluster_balanced_sample,
    the SemDeDup/density-pruning selection step): k-means cells fitted
    cluster-side (in one executor task below the fit's row gate, which
    every testdata corpus is, else in checkpointed rounds; checkpointed
    1-row centroid broadcast, no plan literals, no driver matrix), capped
    per cell in the engine-replayable LCG order.  The oracle refits the same deterministic Lloyd schedule
    independently in numpy (the x56 pattern) and replays assignment +
    cap in SQL."""
    from dftly_spark.ops import cluster_balanced_sample

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    return cluster_balanced_sample(
        emb, n_cells=8, cap=30, kmeans_iters=2, kmeans_init="first", seed=42
    )


_X160_ORACLE_CACHE: dict[str, str] = {}


def _x160_oracle() -> str:
    """DuckDB mirror of cluster_balanced_sample: centroids re-fitted
    independently in numpy on the same Lloyd schedule as x56
    (:func:`~.common._lloyd_first_values`), inlined as literals; the
    per-cell cap replays the LCG order
    ((id*1103515245 + 12345 + seed) % 2^31, then id)."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01")
    if sf_dir in _X160_ORACLE_CACHE:
        return _X160_ORACLE_CACHE[sf_dir]
    rows = _lloyd_first_values(sf_dir, 8)
    seed = 42
    mix = f"((vec_id * 1103515245 + {12345 + seed}) % {2**31})"
    sql = f"""
    WITH cents(cell, cv) AS (VALUES
      {rows}),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scores AS (
      SELECT c.vec_id, cents.cell, list_dot_product(c.v, cents.cv) AS s
      FROM c CROSS JOIN cents
    ),
    assigned AS (
      SELECT vec_id, cell FROM scores
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) = 1
    )
    SELECT vec_id, CAST(cell AS INT) AS cell,
           CAST(row_number() OVER (
             PARTITION BY cell ORDER BY {mix}, vec_id) AS INT) AS cell_rank
    FROM assigned
    QUALIFY cell_rank <= 30
    """
    _X160_ORACLE_CACHE[sf_dir] = sql
    return sql


_q("x160_cluster_balanced", _x160, _x160_oracle)
