"""The vectorized pair scorer must be BIT-identical to the fold, and the
one size gate between them must route by the estimated pair count.

``_cell_pairs_arrow`` / ``_allpairs_arrow`` accumulate pairwise cosines in
ascending dimension order — for every pair, exactly the JVM fold's sequence
of IEEE-double multiply-then-add — so the pair SETS and the cosine DOUBLES
must match bit for bit, including rows sitting exactly on the threshold.
These tests pin that equality on corpora with exact-threshold cosines,
duplicate-heavy cells, zero-norm (NULL unit) vectors, a duplicated id, and
sub-2-row blocks.  Each path is forced by moving ``dedup._ARROW_PAIRS``;
the corpora are local relations, so the gate has a row bound to compare.
"""

import logging
import math

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from dftly_spark.ops import dedup


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
    return local_vectors(spark, rows)


def local_vectors(spark, rows):
    """``(vec_id, embedding)`` rows as a local relation, whose row count
    the gate reads (a parallelized list is an RDD leaf with no bound)."""
    return spark.createDataFrame(pa.table({
        "vec_id": pa.array([i for i, _ in rows], pa.int64()),
        "embedding": pa.array([v for _, v in rows], pa.list_(pa.float64())),
    }))


def scored(monkeypatch, caplog, engine, build):
    """``build()``'s sorted rows with the pair gate forced to ``engine``."""
    with monkeypatch.context() as m, caplog.at_level(logging.INFO, logger=dedup.__name__):
        m.setattr(dedup, "_ARROW_PAIRS", 0 if engine == "arrow" else math.inf)
        caplog.clear()
        rows = sorted(map(tuple, build().collect()))
    assert f": {engine} pair scorer" in caplog.text
    return rows


def _fold_and_arrow(monkeypatch, caplog, build):
    return [scored(monkeypatch, caplog, e, build) for e in ("fold", "arrow")]


def _sorted(df):
    return sorted(map(tuple, df.collect()))


def test_semantic_dedup_pairs_arrow_bit_equal(spark, monkeypatch, caplog):
    from dftly_spark.ops import semantic_dedup_pairs

    corpus = _corpus(spark)
    kw = dict(id_col="vec_id", vec_col="embedding", threshold=0.9,
              n_centroids=4, strategy="first")
    fold, arrow = _fold_and_arrow(
        monkeypatch, caplog, lambda: semantic_dedup_pairs(corpus, **kw)
    )
    assert fold == arrow
    assert len(fold) > 0


def test_embedding_dup_pairs_lsh_arrow_bit_equal(spark, monkeypatch, caplog):
    from dftly_spark.ops import embedding_dup_pairs

    corpus = _corpus(spark)
    kw = dict(threshold=0.8, method="lsh", n_planes=4, dim=8)
    fold, arrow = _fold_and_arrow(
        monkeypatch, caplog, lambda: embedding_dup_pairs(corpus, "vec_id", "embedding", **kw)
    )
    assert fold == arrow
    assert len(fold) > 0


def test_embedding_dup_pairs_brute_arrow_bit_equal(spark, monkeypatch, caplog):
    from dftly_spark.ops import embedding_dup_pairs

    corpus = _corpus(spark, n=60)
    fold, arrow = _fold_and_arrow(
        monkeypatch, caplog,
        lambda: embedding_dup_pairs(corpus, "vec_id", "embedding", threshold=0.8),
    )
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


# (row bound, cells, engine): the contract's three pair-scoring calls at
# 500, 2,000 and 20,000 embeddings rows.  x46 and x05 score an augmented
# corpus whose bound is twice the rows.
ROUTES = [
    # x46, semantic_dedup_pairs over 16 centroids
    (1_000, 16, "fold"), (4_000, 16, "arrow"), (40_000, 16, "arrow"),
    # x154's truth side, brute force: one cell
    (500, 1, "fold"), (2_000, 1, "arrow"), (20_000, 1, "arrow"),
    # x154's prediction side, LSH over 6 planes
    (500, 64, "fold"), (2_000, 64, "fold"), (20_000, 64, "arrow"),
    # x05, LSH over 8 planes
    (1_000, 256, "fold"), (4_000, 256, "fold"), (40_000, 256, "arrow"),
    # no bound: the fold
    (None, 1, "fold"),
]


@pytest.mark.parametrize("bound, cells, engine", ROUTES)
def test_pair_gate_routes_by_estimated_pairs(caplog, bound, cells, engine):
    with caplog.at_level(logging.INFO, logger=dedup.__name__):
        assert dedup._pair_engine(bound, cells, "op") == engine
    pairs = None if bound is None else bound * bound // (2 * cells)
    (line,) = caplog.messages
    assert line == (
        f"op: {engine} pair scorer at {pairs} estimated pairs "
        f"(row bound {bound}, {cells} cells; arrow from {dedup._ARROW_PAIRS})"
    )
