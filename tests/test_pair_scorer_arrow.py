"""The round-15 vectorized pair scorer must be BIT-identical to the fold.

``_cell_pairs_arrow`` / ``_allpairs_arrow`` accumulate pairwise cosines in
ascending dimension order — for every pair, exactly the JVM fold's sequence
of IEEE-double multiply-then-add — so the pair SETS and the cosine DOUBLES
must match bit for bit, including rows sitting exactly on the threshold.
These tests pin that equality on corpora with exact-threshold cosines,
duplicate-heavy cells, zero-norm (NULL unit) vectors, a duplicated id, and
sub-2-row blocks.
"""

import math

import pytest
from pyspark.sql import functions as F


def _corpus(spark, n=120, dim=8):
    # deterministic vectors with planted exact duplicates, a zero vector
    # and a duplicated id
    rows = []
    for i in range(n):
        v = [math.sin(0.1 * i * (k + 1)) + 0.01 * k for k in range(dim)]
        rows.append((i, v))
    rows.append((n, list(rows[0][1])))      # exact duplicate of id 0
    rows.append((n + 1, [0.0] * dim))       # zero-norm -> NULL unit vector
    rows.append((0, list(rows[0][1])))      # duplicated id 0, same vector
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _sorted(df):
    return sorted(map(tuple, df.collect()))


def test_semantic_dedup_pairs_arrow_bit_equal(spark):
    from dftly_spark.ops import semantic_dedup_pairs

    corpus = _corpus(spark)
    kw = dict(id_col="vec_id", vec_col="embedding", threshold=0.9,
              n_centroids=4, strategy="first")
    fold = _sorted(semantic_dedup_pairs(corpus, pair_scorer="fold", **kw))
    arrow = _sorted(semantic_dedup_pairs(corpus, pair_scorer="arrow", **kw))
    assert fold == arrow
    assert len(fold) > 0


def test_embedding_dup_pairs_lsh_arrow_bit_equal(spark):
    from dftly_spark.ops import embedding_dup_pairs

    corpus = _corpus(spark)
    kw = dict(threshold=0.8, method="lsh", n_planes=4, dim=8)
    fold = _sorted(embedding_dup_pairs(corpus, "vec_id", "embedding",
                                       pair_scorer="fold", **kw))
    arrow = _sorted(embedding_dup_pairs(corpus, "vec_id", "embedding",
                                        pair_scorer="arrow", **kw))
    assert fold == arrow
    assert len(fold) > 0


def test_embedding_dup_pairs_brute_arrow_bit_equal(spark):
    from dftly_spark.ops import embedding_dup_pairs

    corpus = _corpus(spark, n=60)
    fold = _sorted(embedding_dup_pairs(corpus, "vec_id", "embedding",
                                       threshold=0.8, pair_scorer="fold"))
    arrow = _sorted(embedding_dup_pairs(corpus, "vec_id", "embedding",
                                        threshold=0.8, pair_scorer="arrow"))
    assert fold == arrow
    assert len(fold) > 0


def test_allpairs_arrow_block_count_independent(spark):
    # the block decomposition is an execution detail: any block count must
    # produce the identical pair set
    from dftly_spark.ops.dedup import _allpairs_arrow
    from dftly_spark.ops.similarity import unit

    base = _corpus(spark, n=50).select(
        F.col("vec_id").alias("_id"),
        unit(F.col("embedding").cast("array<double>")).alias("_v"),
    )
    one = _sorted(_allpairs_arrow(base, 0.8, blocks=1))
    many = _sorted(_allpairs_arrow(base, 0.8, blocks=5))
    assert one == many
    assert len(one) > 0


def test_pair_scorer_rejects_unknown(spark):
    from dftly_spark.ops import embedding_dup_pairs, semantic_dedup_pairs

    corpus = _corpus(spark, n=10)
    with pytest.raises(ValueError, match="pair_scorer"):
        embedding_dup_pairs(corpus, "vec_id", "embedding",
                            pair_scorer="nope").collect()
    with pytest.raises(ValueError, match="pair_scorer"):
        semantic_dedup_pairs(corpus, n_centroids=2, strategy="first",
                             pair_scorer="nope").collect()
