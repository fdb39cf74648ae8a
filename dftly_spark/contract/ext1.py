"""Extension wave 1 (x01-x28 + x56): exact/MinHash/SimHash/embedding dedup,
ANN top-k (brute/LSH/IVF/kmeans), multimodal decode, sessionize, joins
(as-of/range/bloom), profiling, JSON, sampling, packing, chunking.

Registers (in order): x01_exact_dedup, x02_ngram_jaccard_pairs,
x03_minhash_lsh_pairs, x04_simhash_pairs, x05_embedding_neardup,
x06_cosine_topk, x07_text_analysis, x08_fingerprint, x09_multimodal_decode,
x10_frame_sample, x11_ann_lsh_topk, x12_ivf_topk, x56_ivf_kmeans_topk,
x13_sessionize, x15_repetition_signals, x16_incremental_dedup,
x17_random_projection, x18_audio_chunks, x19_asof_join, x20_range_join,
x21_bloom_pruned_join, x22_table_profile, x23_json_extract, x24_vocab_topk,
x25_split_and_sample, x26_pack_sequences, x27_quantile_stats,
x28_chunk_text.

Split out of __spark_entry__.py (round 13); registration order is
preserved by dftly_spark/contract/__init__.py importing the waves in
order.  See common.py for the registry and shared fixtures.
"""

from __future__ import annotations

from dftly_spark.sqlgen import exact_sum, portable_round
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .common import _TOK, _docs_tok, _lloyd_first_values, _prep, _q, _t
from .qseries import _JACCARD_ORACLE, _MAX_DF



def _x01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import exact_dedup

    _prep(spark)
    return exact_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id")


_q(
    "x01_exact_dedup",
    _x01,
    r"""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
    """,
)


def _x02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import ngram_jaccard_pairs

    _prep(spark)
    # tokens_col reads the token column _docs_tok adds (no second split)
    return ngram_jaccard_pairs(
        _docs_tok(spark, sf_dir, fan_out=True),
        "doc_id",
        "text",
        n=3,
        threshold=0.7,
        max_df=_MAX_DF,
        tokens_col=_TOK,
    )


_q("x02_ngram_jaccard_pairs", _x02, _JACCARD_ORACLE)


def _x03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import minhash_dup_pairs

    _prep(spark)
    return minhash_dup_pairs(
        _docs_tok(spark, sf_dir),
        "doc_id",
        "text",
        n=3,
        k=32,
        bands=16,
        threshold=0.7,
        tokens_col=_TOK,
    )


# MinHash candidates are verified with the exact Jaccard, and at s≈0.97 the
# 16-band recall is ≈1, so the exact-pairs oracle applies.
_q("x03_minhash_lsh_pairs", _x03, _JACCARD_ORACLE)


def _x04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import simhash_dup_pairs

    _prep(spark)
    return simhash_dup_pairs(
        _docs_tok(spark, sf_dir), "doc_id", "text", max_hamming=3,
        token_hash="md5_60", tokens_col=_TOK,
    )


# Portable-hash SimHash (md5-derived 60-bit token hashes) lets DuckDB
# recompute the exact fingerprints.  The oracle finds hamming<=3 pairs by
# brute force over all fingerprint pairs, so it also checks the *recall* of
# the banded pigeonhole join, not just its precision.  The one sanctioned
# deviation from brute force is the documented hot-bucket cap
# (hamming_pairs max_bucket_size=1000, the 100 TB shuffle-safety lever):
# a (band, chunk-value) bucket with > 1000 members is dropped WHOLE before
# the candidate join, so the oracle excludes a brute pair only when EVERY
# band the two fingerprints agree on is an oversize bucket — bucket sizes
# are a deterministic property of the corpus, so this mirrors the plan
# exactly.  Below the cap (sf0.01/sf0.1) the EXISTS clause is vacuously
# true and the oracle IS plain brute force; it first binds at sf1.0.
_q(
    "x04_simhash_pairs",
    _x04,
    r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS t
      FROM documents
    ), h AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::UBIGINT AS h FROM tok
    ), votes AS (
      SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i) bits
      GROUP BY doc_id, i
    ), fp AS (
      SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::UBIGINT << i) ELSE 0::UBIGINT END)::UBIGINT AS fp
      FROM votes GROUP BY doc_id
    ), chunks AS (
      -- nbits=60, max_hamming=3 -> 4 bands of 15 bits (hamming_pairs)
      SELECT doc_id, band, (fp >> (band * 15)) & 32767 AS bucket
      FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b
    ), ok AS (
      SELECT band, bucket FROM chunks GROUP BY band, bucket
      HAVING count(*) <= 1000
    )
    SELECT a.doc_id AS id_l, b.doc_id AS id_r,
           CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 3
      AND EXISTS (
        SELECT 1 FROM chunks ca
        JOIN chunks cb ON cb.doc_id = b.doc_id AND cb.band = ca.band
                      AND cb.bucket = ca.bucket
        JOIN ok ON ok.band = ca.band AND ok.bucket = ca.bucket
        WHERE ca.doc_id = a.doc_id
      )
    """,
)


def _x05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via the scale path (hyperplane LSH buckets).

    The synthetic embeddings table has no true near-duplicates (max pairwise
    cosine ≈ 0.51), so the query plants them: every 8th vector gets a ×1.5
    scaled copy (cosine with its source ≡ 1.0 — direction is unchanged).
    Positive scaling preserves every hyperplane sign, so each planted pair
    shares its LSH bucket *structurally* — recall is 1.0 by construction,
    not by luck — and the exact-SQL oracle below is a valid gate for the
    bucketed plan.  method="brute" remains test-only
    (tests/test_ops.py asserts brute ≡ lsh on this corpus).
    """
    from dftly_spark.ops import embedding_dup_pairs

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = emb.where(F.col("vec_id") % 8 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    aug = emb.unionByName(copies)
    # pair_scorer stays "fold" HERE: at this query's gate-scale pair volume
    # (250 pairs at sf0.1) the arrow path's fixed Python-worker cost loses
    # the interleaved A/B (2.0-2.1 vs 1.3-1.6 s) even though it wins 3x at
    # sf1.0 — the crossover is pair volume, see OPTIMIZATION_r15.md.  x46
    # and x154 sit on the other side of the crossover and opt in.
    return embedding_dup_pairs(
        aug, "vec_id", "embedding", threshold=0.95, method="lsh", n_planes=8, dim=64
    )


_q(
    "x05_embedding_neardup",
    _x05,
    """
    WITH aug AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 10000000, list_transform(embedding::DOUBLE[], x -> x * 1.5)
      FROM embeddings WHERE vec_id % 8 = 0
    ), u AS (
      SELECT vec_id,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
      FROM aug)
    SELECT a.vec_id AS id_l, b.vec_id AS id_r, list_dot_product(a.v, b.v) AS cos
    FROM u a JOIN u b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) >= 0.95
    """,
)


def _x06(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import brute_force_topk

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries_df, k=10)


_q(
    "x06_cosine_topk",
    _x06,
    """
    WITH u AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM u WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id, list_dot_product(qv, c.v) AS cos
      FROM u c CROSS JOIN q)
    SELECT query_id, vec_id, cos,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 10
    """,
)


def _x07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import (
        bpe_token_count,
        language_id,
        punct_ratio,
        quality_score,
        stopword_ratio,
        token_count,
    )

    _prep(spark)
    docs = _t(spark, sf_dir, "documents", fan_out=True)
    t = F.col("text")
    return docs.select(
        F.col("doc_id"),
        token_count(t).alias("n_tok"),
        bpe_token_count(t).alias("n_bpe"),
        stopword_ratio(t).alias("sw_ratio"),
        punct_ratio(t).alias("p_ratio"),
        quality_score(t).alias("quality"),
        language_id(t).alias("lang_pred"),
    )


_q(
    "x07_text_analysis",
    _x07,
    r"""
    WITH base AS (
      SELECT doc_id, text,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    ), feats AS (
      SELECT doc_id, text, len(toks) AS n_tok,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe,
             CASE WHEN len(toks) > 0 THEN len(list_filter(toks,
               x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x)))::DOUBLE / len(toks)
               ELSE 0.0 END AS sw_en,
             CASE WHEN len(toks) > 0 THEN len(list_filter(toks,
               x -> list_contains(['el','la','de','que','y','en','un','los','se','no'], x)))::DOUBLE / len(toks)
               ELSE 0.0 END AS sw_es,
             CASE WHEN len(toks) > 0 THEN len(list_filter(toks,
               x -> list_contains(['der','die','und','das','ist','ein','zu','den','mit','nicht'], x)))::DOUBLE / len(toks)
               ELSE 0.0 END AS sw_de,
             CASE WHEN len(toks) > 0 THEN len(list_filter(toks,
               x -> list_contains(['le','la','et','les','des','un','une','du','est','pour'], x)))::DOUBLE / len(toks)
               ELSE 0.0 END AS sw_fr,
             CASE WHEN length(text) > 0
               THEN len(regexp_extract_all(text, '[^A-Za-z0-9_\s]'))::DOUBLE / length(text)
               ELSE 0.0 END AS p_ratio,
             CASE WHEN length(text) > 0
               THEN len(regexp_extract_all(text, '[一-鿿]'))::DOUBLE / length(text)
               ELSE 0.0 END AS cjk_ratio
      FROM base
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, CAST(n_bpe AS BIGINT) AS n_bpe,
           sw_en AS sw_ratio, p_ratio,
           LEAST(CAST(length(text) AS DOUBLE), 400.0) / 400.0 * 0.4
             + LEAST(sw_en * 5.0, 1.0) * 0.3
             + (1.0 - LEAST(p_ratio * 4.0, 1.0)) * 0.3 AS quality,
           CASE
             WHEN length(text) > 0 AND cjk_ratio > 0.2 THEN 'zh'
             WHEN GREATEST(sw_en, sw_es, sw_de, sw_fr) <= 0.0 THEN 'und'
             WHEN sw_en = GREATEST(sw_en, sw_es, sw_de, sw_fr) THEN 'en'
             WHEN sw_es = GREATEST(sw_en, sw_es, sw_de, sw_fr) THEN 'es'
             WHEN sw_de = GREATEST(sw_en, sw_es, sw_de, sw_fr) THEN 'de'
             WHEN sw_fr = GREATEST(sw_en, sw_es, sw_de, sw_fr) THEN 'fr'
             ELSE 'und'
           END AS lang_pred
    FROM feats
    """,
)


def _x08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-k shingle fingerprints with the portable md5_60 hash: every slot
    VALUE is recomputed exactly by the oracle (one row per slot — arrays
    trip the driver canonicalizer)."""
    from dftly_spark.ops import doc_fingerprints

    _prep(spark)
    docs = _t(spark, sf_dir, "documents", fan_out=True)
    fp = doc_fingerprints(docs, "doc_id", "text", n=3, k=8, shingle_hash="md5_60")
    return fp.select(
        "doc_id", F.posexplode("fingerprint").alias("slot", "shingle_hash")
    )


_q(
    "x08_fingerprint",
    _x08,
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
    ), ranked AS (
      SELECT doc_id, g,
             row_number() OVER (PARTITION BY doc_id ORDER BY g) AS rn
      FROM h
    )
    SELECT doc_id, CAST(rn - 1 AS INTEGER) AS slot, g AS shingle_hash
    FROM ranked WHERE rn <= 8
    """,
)


def _x09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import attach_fake_media, decode_media_meta

    _prep(spark)
    docs = attach_fake_media(_t(spark, sf_dir, "documents"), "text")
    return decode_media_meta(docs, "doc_id")


_q(
    "x09_multimodal_decode",
    _x09,
    """
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS size_bytes,
           CAST(16 + strlen(text) % 64 AS INTEGER) AS width,
           CAST(16 + (strlen(text) // 7) % 64 AS INTEGER) AS height,
           'fake' AS decoder
    FROM documents
    """,
)


def _x10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import attach_fake_media, sample_frames

    _prep(spark)
    docs = attach_fake_media(_t(spark, sf_dir, "documents"), "text")
    return sample_frames(docs, every=4, id_col="doc_id")


_q(
    "x10_frame_sample",
    _x10,
    """
    WITH nf AS (SELECT doc_id, 1 + strlen(text) % 16 AS n_frames FROM documents)
    SELECT doc_id, CAST(unnest(generate_series(0, n_frames - 1, 4)) AS INTEGER) AS frame_index
    FROM nf
    """,
)


def _x11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import lsh_bucket_topk

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_bucket_topk(emb, queries_df, k=10, n_planes=6, seed=42, dim=64)


def _x11_oracle() -> str:
    """Full DuckDB mirror of lsh_bucket_topk(n_planes=6, seed=42).

    The seeded hyperplanes are deterministic, so they are inlined as SQL
    literals and DuckDB re-runs the *same algorithm* — sign buckets,
    hamming-1 multi-probe, exact cosine re-rank — end to end.  Float dots
    are bit-identical because both engines fold left-to-right
    (list_dot_product ≡ the zip_with/aggregate fold).
    """
    from dftly_spark.ops.dedup import _hyperplanes

    planes = _hyperplanes(64, 6, 42)
    rows = ",\n      ".join(
        f"({i}, {p!r}::DOUBLE[])" for i, p in enumerate(planes)
    )
    return f"""
    WITH planes(i, p) AS (VALUES
      {rows}),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    buckets AS (
      SELECT c.vec_id,
             CAST(sum(CASE WHEN list_dot_product(c.v, planes.p) > 0
                           THEN (1::BIGINT << planes.i) ELSE 0 END) AS BIGINT) AS bucket
      FROM c CROSS JOIN planes GROUP BY c.vec_id
    ),
    u AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v FROM c),
    q AS (SELECT vec_id AS query_id, bucket AS b0 FROM buckets WHERE vec_id < 5),
    probes AS (
      SELECT query_id,
             CASE WHEN j = 0 THEN b0
                  ELSE CAST(xor(b0::UBIGINT, (1::UBIGINT << (j - 1))) AS BIGINT) END AS bucket
      FROM q CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS j) js
    ),
    cand AS (
      SELECT DISTINCT p.query_id, b2.vec_id
      FROM probes p JOIN buckets b2 ON b2.bucket = p.bucket
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id, list_dot_product(qu.v, cu.v) AS cos
      FROM cand
      JOIN u qu ON qu.vec_id = cand.query_id
      JOIN u cu ON cu.vec_id = cand.vec_id
    )
    SELECT query_id, vec_id, cos,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT)
             AS rank
    FROM scored
    QUALIFY rank <= 10
    """


_q("x11_ann_lsh_topk", _x11, _x11_oracle())


def _x12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops.similarity import ivf_topk

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries_df, k=10, n_centroids=16, nprobe=4, strategy="first")


# Full DuckDB mirror of ivf_topk(strategy="first"): the centroids are the 16
# lowest-id corpus vectors (unit-normalized), so the oracle derives them from
# the data and replays the whole index — cell assignment (argmax dot,
# lowest-cell tie-break), nprobe probing, exact cosine re-rank.  Float dots
# are bit-identical (sequential fold ≡ list_dot_product).  kmeans centroids
# are exercised by tests/test_ops.py instead (recall vs brute).
_q(
    "x12_ivf_topk",
    _x12,
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
      SELECT vec_id, cell FROM scores
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell FROM scores WHERE vec_id < 5
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) <= 4
    ),
    u AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v FROM c),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id
      FROM probes p JOIN assigned a ON a.cell = p.cell
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id, list_dot_product(qu.v, cu.v) AS cos
      FROM cand
      JOIN u qu ON qu.vec_id = cand.query_id
      JOIN u cu ON cu.vec_id = cand.vec_id
    )
    SELECT query_id, vec_id, cos,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT)
             AS rank
    FROM scored
    QUALIFY rank <= 10
    """,
)


def _x56(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops.similarity import ivf_topk

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings", fan_out=True)
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(
        emb,
        queries_df,
        k=10,
        n_centroids=16,
        nprobe=4,
        strategy="kmeans",
        kmeans_iters=2,
        kmeans_init="first",
    )


_X56_ORACLE_CACHE: dict[str, str] = {}


def _x56_oracle() -> str:
    """DuckDB mirror of ivf_topk(strategy="kmeans") — the PRODUCTION path.

    x12 gates strategy="first" (centroids derivable in SQL); this gates the
    learned-centroid path.  The centroid matrix is re-fitted independently
    in numpy (:func:`~.common._lloyd_first_values`) and inlined as
    literals, so DuckDB replays the whole index against an INDEPENDENTLY
    fitted implementation.  Centroids agree with Spark's to ~1e-12, and the
    final cos column is bit-exact either way because re-ranking uses the
    original vectors, not the centroids.  Reads the same sf dir the driver
    gates at (sf0.01; override with SPARK_GRAFT_GATE_SF_DIR).
    """
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01")
    if sf_dir in _X56_ORACLE_CACHE:
        return _X56_ORACLE_CACHE[sf_dir]
    rows = _lloyd_first_values(sf_dir, 16)
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
    ),
    probes AS (
      SELECT vec_id AS query_id, cell FROM scores WHERE vec_id < 5
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) <= 4
    ),
    u AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v FROM c),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id
      FROM probes p JOIN assigned a ON a.cell = p.cell
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id, list_dot_product(qu.v, cu.v) AS cos
      FROM cand
      JOIN u qu ON qu.vec_id = cand.query_id
      JOIN u cu ON cu.vec_id = cand.vec_id
    )
    SELECT query_id, vec_id, cos,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT)
             AS rank
    FROM scored
    QUALIFY rank <= 10
    """
    _X56_ORACLE_CACHE[sf_dir] = sql
    return sql


_q("x56_ivf_kmeans_topk", _x56, _x56_oracle)


def _x13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops.sessions import sessionize

    _prep(spark)
    return sessionize(_t(spark, sf_dir, "events"), gap_micros=1_800_000_000)


_q(
    "x13_sessionize",
    _x13,
    """
    WITH e AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         b AS (SELECT event_id, user_id, us,
                      lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
               FROM e)
    SELECT event_id, user_id,
           CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
             AS BIGINT) AS session_idx
    FROM b
    """,
)


def _x15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import repetition_signals

    _prep(spark)
    return repetition_signals(
        _docs_tok(spark, sf_dir), "doc_id", "text", tokens_col=_TOK
    )


_q(
    "x15_repetition_signals",
    _x15,
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), ex AS (
      SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p FROM base
    ), tok AS (
      SELECT doc_id, w[p] AS t, CASE WHEN p < len(w) THEN w[p + 1] END AS t2 FROM ex
    ), wc AS (
      SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t
    ), words AS (
      SELECT doc_id, sum(c) AS n_words,
             sum(c * length(t))::DOUBLE / sum(c) AS mean_word_len,
             count(*)::DOUBLE / sum(c) AS ttr,
             max(c)::DOUBLE / sum(c) AS top_word_frac
      FROM wc GROUP BY doc_id
    ), gc AS (
      SELECT doc_id, t, t2, count(*) AS c FROM tok WHERE t2 IS NOT NULL
      GROUP BY doc_id, t, t2
    ), grams AS (
      SELECT doc_id, max(c)::DOUBLE / sum(c) AS top_bigram_frac FROM gc GROUP BY doc_id
    )
    SELECT words.doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len, ttr,
           top_word_frac, COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac
    FROM words LEFT JOIN grams ON words.doc_id = grams.doc_id
    """,
)


def _x16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: odd-id docs are the 'new batch', even-id
    docs the already-indexed corpus; find new docs duplicating the corpus."""
    from dftly_spark.ops import cross_corpus_dup_pairs

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    new_batch = docs.where(F.col("doc_id") % 2 == 1)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    return cross_corpus_dup_pairs(
        new_batch, corpus, "doc_id", "text", n=3, threshold=0.7
    )


_q(
    "x16_incremental_dedup",
    _x16,
    r"""
    WITH ws AS (
      SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents),
    idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i FROM ws WHERE len(w) >= 3),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i+2), ' ') AS g FROM idx
      UNION SELECT DISTINCT doc_id, array_to_string(w, ' ') AS g FROM ws WHERE len(w) < 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS s
      FROM sh a JOIN sh b ON a.g = b.g
      WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
      GROUP BY 1, 2
    )
    SELECT new_id, corpus_id, s::DOUBLE / (x.n + y.n - s) AS jaccard
    FROM shared JOIN sizes x ON x.doc_id = new_id JOIN sizes y ON y.doc_id = corpus_id
    WHERE s::DOUBLE / (x.n + y.n - s) >= 0.7
    """,
)


def _x17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import random_project
    from dftly_spark.ops.similarity import l2_norm

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    proj = random_project(emb, "embedding", out_dim=16, seed=42, dim=64)
    return proj.select(
        "vec_id",
        F.element_at("projection", 1).alias("p0"),
        F.element_at("projection", 2).alias("p1"),
        l2_norm(F.col("projection")).alias("proj_norm"),
    )


def _x17_oracle() -> str:
    """Mirror of random_project(out_dim=16, seed=42): the seeded Gaussian
    direction matrix is inlined as literals; every component and the norm
    are bit-identical via sequential-fold dot products."""
    import math

    from dftly_spark.ops.dedup import _hyperplanes

    planes = _hyperplanes(64, 16, 42)
    scale = 1.0 / math.sqrt(16)
    comps = ",\n        ".join(
        f"list_dot_product(v, {p!r}::DOUBLE[]) * {scale!r}" for p in planes
    )
    return f"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT vec_id, [
        {comps}] AS parr FROM c)
    SELECT vec_id, parr[1] AS p0, parr[2] AS p1,
           sqrt(list_dot_product(parr, parr)) AS proj_norm
    FROM p
    """


_q("x17_random_projection", _x17, _x17_oracle())


def _x18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dftly_spark.ops import attach_fake_media, audio_chunks

    _prep(spark)
    docs = attach_fake_media(_t(spark, sf_dir, "documents"), "text")
    return audio_chunks(docs, chunk_ms=1000, id_col="doc_id")


_q(
    "x18_audio_chunks",
    _x18,
    """
    WITH m AS (SELECT doc_id, strlen(text)::BIGINT * 1000 AS ns FROM documents),
    c AS (SELECT doc_id, ns,
                 unnest(generate_series(0, CAST(ceil(ns / 16000.0) AS INT) - 1)) AS ci
          FROM m)
    SELECT doc_id, CAST(ci AS INTEGER) AS chunk_index,
           CAST(ci * 16000 AS BIGINT) AS start_sample,
           CAST(LEAST((ci + 1) * 16000, ns) AS BIGINT) AS end_sample
    FROM c
    """,
)


def _x19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the user's latest click at-or-before it.

    Single-shuffle as-of join (union + window carry-forward); the oracle is
    DuckDB's native ``ASOF JOIN``.  Right side is pre-aggregated to one row
    per (user, µs) so the at-tie winner is deterministic in both engines.
    """
    from dftly_spark.ops import asof_join

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    purch = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("click_id"),
            F.max_by("value", "event_id").alias("click_value"),
        )
    )
    out = asof_join(purch, clicks, on="ts", by="user_id", how="inner")
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        F.unix_micros("ts_right").alias("click_ts_us"),
        F.col("click_id_right").alias("click_id"),
        F.col("click_value_right").alias("click_value"),
        (F.unix_micros("ts") - F.unix_micros("ts_right")).alias("age_us"),
    )


_q(
    "x19_asof_join",
    _x19,
    """
    WITH p AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                      max(event_id) AS click_id,
                      arg_max(value, event_id) AS click_value
               FROM events WHERE event_type = 'click'
               GROUP BY user_id, epoch_us(CAST(ts AS TIMESTAMP)))
    SELECT p.event_id, p.user_id, p.us AS ts_us, p.value,
           c.us AS click_ts_us, c.click_id, c.click_value,
           p.us - c.us AS age_us
    FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.us >= c.us
    """,
)


def _x20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases landing inside any signup's first-30-minutes window.

    Keyless interval join: a raw theta-join would go BroadcastNestedLoop;
    ``range_join`` bins both sides onto 30-minute buckets so Spark runs a
    hash equi-join + exact refine (plan pinned NestedLoop-free in
    tests/test_joins.py).
    """
    from dftly_spark.ops import range_join

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    sign = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("point_id"), "ts", "value"
    )
    out = range_join(
        purch, sign, point_on="ts", start_on="start", end_on="end",
        bucket_micros=30 * 60 * 1_000_000,
    )
    return out.select(
        "window_id",
        "point_id",
        F.unix_micros("start").alias("start_us"),
        F.unix_micros("ts").alias("point_us"),
        "value",
    )


_q(
    "x20_range_join",
    _x20,
    """
    WITH s AS (SELECT event_id AS window_id, epoch_us(CAST(ts AS TIMESTAMP)) AS start_us
               FROM events WHERE event_type = 'signup'),
         p AS (SELECT event_id AS point_id, epoch_us(CAST(ts AS TIMESTAMP)) AS point_us, value
               FROM events WHERE event_type = 'purchase')
    SELECT s.window_id, p.point_id, s.start_us, p.point_us, p.value
    FROM s JOIN p
      ON p.point_us >= s.start_us AND p.point_us < s.start_us + 1800000000
    """,
)


def _x21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join with Bloom pre-shuffle pruning on the fact side.

    ``bloom_prune`` drops non-matching orders *before* the join shuffle
    (sound — false positives only, removed by the join), so the result is
    exactly the plain join: the oracle needs no Bloom mirror.
    """
    from dftly_spark.ops import bloom_prune

    _prep(spark)
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "AUTOMOBILE"
    )
    pruned = bloom_prune(orders, "o_custkey", cust, "c_custkey")
    return (
        pruned.join(F.broadcast(cust), pruned.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            # exact_sum, not sum(double): partial-sum order wobble on
            # 1e9-magnitude money sums crosses the 2-dec rounding step
            # as SF grows; integer sums are exact and order-independent
            exact_sum(F.col("o_totalprice"), scale=100).alias("total_price"),
        )
    )


_q(
    "x21_bloom_pruned_join",
    _x21,
    """
    SELECT c.c_nationkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             / 100.0 AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'AUTOMOBILE'
    GROUP BY c.c_nationkey
    """,
)


def _x22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profile of the documents table (exact NDVs)."""
    from dftly_spark.ops import profile_table

    _prep(spark)
    return profile_table(_t(spark, sf_dir, "documents"))


_q(
    "x22_table_profile",
    _x22,
    """
    WITH s AS (
      SELECT 'doc_id' AS column, COUNT(*) AS n_rows,
             COUNT(*) - COUNT(doc_id) AS n_nulls,
             COUNT(DISTINCT doc_id) AS n_distinct,
             CAST(MIN(doc_id) AS VARCHAR) AS min_str,
             CAST(MAX(doc_id) AS VARCHAR) AS max_str,
             AVG(length(CAST(doc_id AS VARCHAR))) AS avg_len
      FROM documents
      UNION ALL
      SELECT 'text', COUNT(*), COUNT(*) - COUNT(text), COUNT(DISTINCT text),
             CAST(MIN(text) AS VARCHAR), CAST(MAX(text) AS VARCHAR),
             AVG(length(text))
      FROM documents
      UNION ALL
      SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
             CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR),
             AVG(length(lang))
      FROM documents
      UNION ALL
      SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
             CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR),
             AVG(length(source))
      FROM documents
      UNION ALL
      SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
             CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR),
             AVG(length(CAST(n_chars AS VARCHAR)))
      FROM documents
    )
    SELECT * FROM s
    """,
)


def _x23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from events.props, then a typed aggregate.

    Path extraction (``get_json_object``) and schema parse (``from_json``)
    must agree — both appear and are cross-checked row-wise, then k is
    aggregated per event_type.
    """
    from dftly_spark.ops import json_extract_fields, json_parse_typed

    _prep(spark)
    ev = _t(spark, sf_dir, "events", fan_out=True)
    ex = json_extract_fields(ev, "props", {"k_path": ("$.k", "bigint")})
    typed = json_parse_typed(ex, "props", "k BIGINT")
    return (
        typed.withColumn("k_typed", F.col("props_parsed.k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k_path").alias("sum_k"),
            F.min("k_typed").alias("min_k"),
            F.max("k_typed").alias("max_k"),
            F.sum((F.col("k_path") != F.col("k_typed")).cast("bigint")).alias(
                "path_vs_typed_mismatches"
            ),
        )
    )


_q(
    "x23_json_extract",
    _x23,
    """
    WITH e AS (SELECT event_type,
                      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events)
    SELECT event_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k, MAX(k) AS max_k,
           CAST(0 AS BIGINT) AS path_vs_typed_mismatches
    FROM e GROUP BY event_type
    """,
)


def _x24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-25 unigrams + top-25 bigrams by frequency."""
    from dftly_spark.ops import vocab_topk

    _prep(spark)
    docs = _docs_tok(spark, sf_dir)
    uni = vocab_topk(
        docs, "text", id_col="doc_id", k=25, n=1, tokens_col=_TOK
    ).withColumn("gram_size", F.lit(1))
    bi = vocab_topk(
        docs, "text", id_col="doc_id", k=25, n=2, tokens_col=_TOK
    ).withColumn("gram_size", F.lit(2)
    )
    return uni.unionByName(bi)


_q(
    "x24_vocab_topk",
    _x24,
    r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), ex AS (
      SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p FROM base
    ), tok AS (
      SELECT doc_id, w[p] AS t, CASE WHEN p < len(w) THEN w[p] || ' ' || w[p + 1] END AS t2
      FROM ex
    ), uni AS (
      SELECT t AS gram, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS count,
             1 AS gram_size
      FROM tok GROUP BY t ORDER BY count DESC, gram ASC LIMIT 25
    ), bi AS (
      SELECT t2 AS gram, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS count,
             2 AS gram_size
      FROM tok WHERE t2 IS NOT NULL
      GROUP BY t2 ORDER BY count DESC, gram ASC LIMIT 25
    )
    SELECT gram, n_docs, count, CAST(gram_size AS INTEGER) AS gram_size FROM uni
    UNION ALL
    SELECT gram, n_docs, count, CAST(gram_size AS INTEGER) AS gram_size FROM bi
    """,
)


def _x25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment + per-lang stratified sample.

    Row-local LCG-mix gating — no shuffle, no rand(); the oracle replays
    the identical modular arithmetic (``sampling.mix_sql``).
    """
    from dftly_spark.ops import hash_split, stratified_sample

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    split = hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    )
    sampled = stratified_sample(
        split, "lang", {"en": 0.5, "de": 0.25}, "doc_id",
        default_rate=0.1, seed=11,
    )
    return sampled.select("doc_id", "lang", "split")


def _x25_oracle() -> str:
    from dftly_spark.ops.sampling import _M, mix_sql

    u7, u11 = mix_sql("doc_id", 7), mix_sql("doc_id", 11)
    t_train, t_val = int(0.8 * _M), int(0.9 * _M)
    return f"""
    SELECT doc_id, lang,
           CASE WHEN {u7} < {t_train} THEN 'train'
                WHEN {u7} < {t_val} THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    WHERE {u11} < CASE lang WHEN 'en' THEN {int(0.5 * _M)}
                            WHEN 'de' THEN {int(0.25 * _M)}
                            ELSE {int(0.1 * _M)} END
    """


_q("x25_split_and_sample", _x25, _x25_oracle())


def _x26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing of documents into 256-token
    training windows (8 shards), offsets closed-form."""
    from dftly_spark.ops import pack_sequences
    from dftly_spark.ops.textops import token_count

    _prep(spark)
    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tok", token_count(F.col("text"))
    )
    return pack_sequences(
        docs, "doc_id", "n_tok", context_len=256, shards=8, seed=3
    )


def _x26_oracle() -> str:
    from dftly_spark.ops.sampling import mix_sql

    return rf"""
    WITH d AS (
      SELECT doc_id,
             len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))::BIGINT AS l
      FROM documents WHERE length(trim(text)) > 0
    ), s AS (
      SELECT doc_id, l, {mix_sql("doc_id", 3)} % 8 AS shard FROM d
    ), c AS (
      SELECT doc_id, l, shard,
             SUM(l) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS e
      FROM s
    ), x AS (
      SELECT doc_id, shard, CAST(e AS BIGINT) AS e, CAST(e - l AS BIGINT) AS st
      FROM c
    ), ex AS (
      SELECT doc_id, shard, st, e,
             unnest(generate_series(st // 256, (e - 1) // 256)) AS chunk_id
      FROM x
    )
    SELECT shard, chunk_id, doc_id,
           GREATEST(st, chunk_id * 256) - st AS doc_offset,
           GREATEST(st, chunk_id * 256) - chunk_id * 256 AS chunk_offset,
           LEAST(e, chunk_id * 256 + 256) - GREATEST(st, chunk_id * 256) AS n_tokens
    FROM ex
    """


_q("x26_pack_sequences", _x26, _x26_oracle())


def _x27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length distribution (exact interpolated
    quantiles — Spark `percentile` ≡ ANSI quantile_cont, bit-identical on
    integer inputs)."""
    from dftly_spark.ops import quantile_stats

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return quantile_stats(docs, "n_chars", by="lang")


_q(
    "x27_quantile_stats",
    _x27,
    """
    SELECT lang, COUNT(n_chars) AS n, AVG(n_chars) AS mean,
           quantile_cont(n_chars, 0.1) AS q10,
           quantile_cont(n_chars, 0.25) AS q25,
           quantile_cont(n_chars, 0.5) AS q50,
           quantile_cont(n_chars, 0.75) AS q75,
           quantile_cont(n_chars, 0.9) AS q90
    FROM documents GROUP BY lang
    """,
)


def _x28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (retrieval prep): 64-token windows
    advancing by 48."""
    from dftly_spark.ops import chunk_text

    _prep(spark)
    docs = _t(spark, sf_dir, "documents", fan_out=True)
    return chunk_text(docs, "doc_id", "text", chunk_tokens=64, overlap=16)


_q(
    "x28_chunk_text",
    _x28,
    r"""
    WITH w AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
      FROM documents WHERE length(trim(text)) > 0
    ), s AS (
      SELECT doc_id, t,
             unnest(generate_series(1, GREATEST(len(t) - 16, 1), 48)) AS st
      FROM w
    ), c AS (
      SELECT doc_id, (row_number() OVER (PARTITION BY doc_id ORDER BY st) - 1) AS chunk_idx,
             list_slice(t, st, st + 63) AS piece
      FROM s
    )
    SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(len(piece) AS BIGINT) AS n_tokens,
           array_to_string(piece, ' ') AS chunk_text
    FROM c WHERE len(piece) >= 1
    """,
)
