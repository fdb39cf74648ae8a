"""The vector admission rule (``similarity.unit``) and the scorers built on it.

``unit(v)`` is NULL unless ``v``'s squared norm — a left fold over dim
order — is finite and > 0.  Every vector operator keys on that: an
inadmissible row (NULL vector, NULL/NaN/inf element, zero vector, norm
overflow) gets no cell, never becomes or moves a centroid, and takes part
in no cosine.  Three groups of tests:

* ``unit()``'s bits against a plain-Python left fold;
* one regression test per operator that a NaN vector used to break;
* a generate-and-compare harness: Hypothesis frames of at most 20 rows
  (duplicate ids, NULL vectors, NULL/NaN/inf elements, zero vectors,
  empty and single-row frames, identical vectors) through the fold and the
  arrow scorer of each vector operator, both compared with a brute-force
  Python reference.  Examples are derandomized, so a run is repeatable.
"""

from __future__ import annotations

import math
import random

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dftly_spark.ops import (
    brute_force_topk,
    centroid_outliers,
    cross_corpus_embedding_pairs,
    embedding_dup_pairs,
    fit_scalar_quantizer,
    ivf_topk,
    quantization_fidelity,
    semantic_dedup_pairs,
    similarity,
    topic_assign,
)
from dftly_spark.ops.dedup import _bucketed, _hyperplanes, _plane_signature
from test_pair_scorer_arrow import local_vectors, scored

NAN, INF = float("nan"), float("inf")
DIM = 4
SCHEMA = "vec_id long, embedding array<double>"


# ---------------------------------------------------------------------------
# brute-force Python reference: the fold path's arithmetic, step by step
# ---------------------------------------------------------------------------


def _dot(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _unit(v):
    if v is None or any(x is None for x in v):
        return None
    s = 0.0
    for x in v:
        s += x * x
    if not (0 < s < INF):  # False for NaN too
        return None
    return [x / math.sqrt(s) for x in v]


def _first_cells(rows, n):
    """The ``"first"`` centroids: the ``n`` lowest-id admitted rows."""
    return [u for _, u in sorted((i, _unit(v)) for i, v in rows if _unit(v) is not None)[:n]]


def _cell(v, cents):
    """Argmax cell (1-based, lowest wins ties) of the raw vector, or None."""
    if _unit(v) is None or not cents:
        return None
    s = [_dot(v, c) for c in cents]
    return s.index(max(s)) + 1


def _probes(v, cents, nprobe):
    if _unit(v) is None:
        return list(range(1, min(nprobe, len(cents)) + 1))
    s = [_dot(v, c) for c in cents]
    return sorted(range(1, len(cents) + 1), key=lambda c: (-s[c - 1], c))[:nprobe]


def _pairs(rows, threshold, same_group=lambda a, b: True):
    """Every row pair with distinct ids, in one group, at cos >= threshold:
    ``(id_l, id_r, cos)`` as the fold's ``id_l < id_r`` self-join emits it."""
    out = []
    for x in range(len(rows)):
        for y in range(x + 1, len(rows)):
            (a, va), (b, vb) = rows[x], rows[y]
            ua, ub = _unit(va), _unit(vb)
            if a == b or ua is None or ub is None or not same_group(rows[x], rows[y]):
                continue
            c = _dot(ua, ub)
            if c >= threshold:
                out.append((min(a, b), max(a, b), c))
    return sorted(out)


def _signature(v, planes):
    return sum(1 << i for i, p in enumerate(planes) if _dot(v, p) > 0)


def _arrow(monkeypatch, build):
    """``build()`` with the arrow cell scorer forced at any centroid count."""
    with monkeypatch.context() as m:
        m.setattr(similarity, "_ARROW_CELLS", 1)
        return build()


# ---------------------------------------------------------------------------
# unit(): bits and admission
# ---------------------------------------------------------------------------


def test_unit_matches_python_left_fold_bit_for_bit(spark):
    rng = random.Random(12)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(200)]
    inadmissible = [
        None, [0.0] * 64, [], [1.0, None] + [0.0] * 62, [NAN] + [1.0] * 63,
        [INF] + [1.0] * 63, [-INF] + [1.0] * 63, [1e200] * 64,
    ]
    rows += [(1000 + i, v) for i, v in enumerate(inadmissible)]
    df = spark.createDataFrame(rows, SCHEMA)
    got = dict(df.select("vec_id", similarity.unit(F.col("embedding")).alias("u")).collect())
    for i, v in rows:
        assert got[i] == _unit(v), i
    assert all(got[1000 + i] is None for i in range(len(inadmissible)))


# ---------------------------------------------------------------------------
# one regression test per operator a NaN vector broke
# ---------------------------------------------------------------------------


def _clusters(n_per=12, dim=8, kc=4, seed=3):
    """Rows 1..kc are the orthogonal cluster directions (the ``"first"``
    centroids once row 0 is skipped), then noisy members of each."""
    rng = random.Random(seed)
    rows, truth = [], {}
    for c in range(kc):
        rows.append((c + 1, [1.0 if d == c else 0.0 for d in range(dim)]))
        truth[c + 1] = c + 1
    for i in range(kc * n_per):
        c = i % kc
        v = [0.05 * rng.uniform(-1, 1) for _ in range(dim)]
        v[c] += 1.0
        rows.append((100 + i, v))
        truth[100 + i] = c + 1
    return rows, truth


def test_nan_corpus_vector_is_never_ranked(spark):
    rows, _ = _clusters()
    df = spark.createDataFrame(rows + [(0, [NAN] * 8)], SCHEMA)
    q = df.where(F.col("vec_id").isin(1, 2, 100)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for out in (
        brute_force_topk(df, q, k=3),
        ivf_topk(df, q, k=3, n_centroids=4, nprobe=4, strategy="first"),
    ):
        got = out.collect()
        assert len(got) == 9 and all(r.vec_id != 0 for r in got)
        assert all(not math.isnan(r.cos) for r in got)


@pytest.mark.parametrize("strategy", ["first", "kmeans"])
def test_nan_vector_does_not_capture_topics(spark, strategy):
    rows, truth = _clusters()
    df = spark.createDataFrame(rows + [(0, [NAN] + [0.5] * 7)], SCHEMA)
    got = dict(
        topic_assign(df, n_topics=4, strategy=strategy, kmeans_init="first", kmeans_iters=2)
        .collect()
    )
    assert got.pop(0) is None
    assert got == truth


def test_fold_pair_scorers_drop_nan_rows(spark):
    rows, _ = _clusters(n_per=6)
    df = spark.createDataFrame(rows + [(999, [NAN] * 8)], SCHEMA)
    for pairs in (
        semantic_dedup_pairs(df, threshold=0.9, n_centroids=4, strategy="first"),
        embedding_dup_pairs(df, "vec_id", "embedding", threshold=0.9),
        embedding_dup_pairs(
            df, "vec_id", "embedding", threshold=0.9, method="lsh", n_planes=2, dim=8
        ),
    ):
        got = pairs.collect()
        assert got and all(999 not in (r.id_l, r.id_r) for r in got)


def test_lsh_buckets_leave_inadmissible_rows_out(spark, monkeypatch, caplog):
    # a NaN vector signs into the all-bits bucket (NaN > 0 holds in
    # Spark); it must get no bucket, so neither the bucket join nor the
    # per-bucket Arrow kernel ever sees it
    rows = [
        (1, [NAN, 1.0, 0.0, 0.0]), (2, [NAN] * DIM), (3, None), (4, [0.0] * DIM),
        (5, [1.0, 2.0, 3.0, 4.0]), (6, [0.5, -1.0, 2.0, 0.0]), (7, [2.0, 4.0, 6.0, 8.0]),
    ]
    planes = _hyperplanes(DIM, 3, 42)
    base = spark.createDataFrame(rows, SCHEMA).select(
        F.col("vec_id").alias("_id"), F.col("embedding").alias("_v")
    )
    raw = dict(base.select("_id", _plane_signature(F.col("_v"), planes)).collect())
    assert raw[1] == raw[2] == 7
    got = {r._id: r._bucket for r in _bucketed(base, planes).collect()}
    assert got == {1: None, 2: None, 3: None, 4: None, 5: raw[5], 6: raw[6], 7: raw[7]}
    assert raw[5] == raw[7]
    df = local_vectors(spark, rows)
    for engine in ("fold", "arrow"):
        lsh = scored(monkeypatch, caplog, engine, lambda: embedding_dup_pairs(
            df, "vec_id", "embedding", threshold=0.9, method="lsh", n_planes=3, dim=DIM
        ))
        assert [(i, j) for i, j, _ in lsh] == [(5, 7)], engine
    new = df.where("vec_id < 6")
    cross = cross_corpus_embedding_pairs(new, df, "vec_id", "embedding", threshold=0.9,
                                         n_planes=3, dim=DIM)
    assert sorted((r.new_id, r.corpus_id) for r in cross.collect()) == [(5, 5), (5, 7)]


def test_quantizer_range_leaves_non_finite_elements_out(spark):
    rows = [(1, [NAN, 1.0, 0.0, 0.0]), (2, [NAN] * DIM), (3, [1.0, 2.0, 3.0, 4.0]),
            (4, [0.5, -1.0, 2.0, 0.0])]
    df = spark.createDataFrame(rows, SCHEMA)
    mins, maxs = fit_scalar_quantizer(df, "embedding", dim=DIM)
    assert (mins, maxs) == ([0.5, -1.0, 0.0, 0.0], [1.0, 2.0, 3.0, 4.0])
    with_inf = spark.createDataFrame(rows + [(5, [INF, -INF, 1.0, 1.0])], SCHEMA)
    assert fit_scalar_quantizer(with_inf, "embedding", dim=DIM) == (mins, maxs)
    fidelity = dict(quantization_fidelity(df, "vec_id", "embedding", mins, maxs).collect())
    assert fidelity[3] > 0.999 and fidelity[4] > 0.999


def test_centroid_outliers_skip_nan_row(spark):
    rows, _ = _clusters()
    clean = spark.createDataFrame(rows, SCHEMA)
    dirty = spark.createDataFrame(rows + [(0, [NAN] * 8)], SCHEMA)
    want = [tuple(r) for r in centroid_outliers(clean, k=len(rows)).collect()]
    got = [tuple(r) for r in centroid_outliers(dirty, k=len(rows) + 1).collect()]
    # the NaN row scores NULL, which sorts first, as a NULL vector does
    assert got == [(0, None)] + want


# ---------------------------------------------------------------------------
# generate and compare: fold vs arrow vs the Python reference
# ---------------------------------------------------------------------------

_SPECIAL = [None, NAN, INF, -INF, 1e200]
#: a zero element becomes 1.0, so the simplest frame is one admitted row
_ELEM = st.floats(-4, 4, allow_nan=False, allow_infinity=False).map(lambda x: x or 1.0)


@st.composite
def _frames(draw):
    """1 to 20 ``(id, vector)`` rows over at most 10 distinct ids.  A
    repeated id repeats its row, so the ``"first"`` centroids are the same
    whichever duplicate Spark picks; distinct ids may share a vector.  The
    simplest frame, Hypothesis' first draw, is a single admitted row."""
    ids = draw(st.lists(st.integers(0, 9), min_size=1, max_size=20))
    vecs = {}
    for i in dict.fromkeys(ids):
        kind = draw(st.integers(0, 11))
        v = draw(st.lists(_ELEM, min_size=DIM, max_size=DIM))
        if kind == 8:
            v = None
        elif kind == 9:
            v = [0.0] * DIM
        elif kind == 10:
            v[draw(st.integers(0, DIM - 1))] = draw(st.sampled_from(_SPECIAL))
        elif kind == 11 and vecs:
            v = list(draw(st.sampled_from(sorted(vecs.items())))[1] or [0.0] * DIM)
        vecs[i] = v
    return [(i, vecs[i]) for i in ids]


#: the empty frame, and one frame with every inadmissible kind, a
#: duplicated row and two ids sharing a vector
_EDGE = [
    [],
    [
        (5, [1.0, 0.0, 0.0, 0.0]), (1, None), (2, [0.0] * DIM), (3, [1.0, None, 0.0, 0.0]),
        (4, [INF, 0.0, 0.0, 1.0]), (6, [1e200, 1.0, 0.0, 0.0]), (7, [NAN] * DIM),
        (8, [1.0, 0.0, 0.0, 0.0]), (8, [1.0, 0.0, 0.0, 0.0]), (9, [0.5, 0.5, 0.0, 0.1]),
    ],
]
#: each example is about ten Spark jobs: the suite runs the explicit
#: frames and Hypothesis' first draw; raise max_examples to explore more
_SETTINGS = settings(
    max_examples=1, deadline=None, derandomize=True, database=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _with_edges(test):
    for rows in _EDGE:
        test = example(rows=rows)(test)
    return test


@_SETTINGS
@_with_edges
@given(rows=_frames())
def test_cell_scorers_match_reference(spark, monkeypatch, rows):
    nc, nprobe, k = 3, 2, 3
    df = spark.createDataFrame(rows, SCHEMA)
    q = df.select(F.col("vec_id").alias("query_id"), "embedding")
    cents = _first_cells(rows, nc)

    want_topics = sorted((i, _cell(v, cents)) for i, v in rows)
    topics = lambda: topic_assign(df, n_topics=nc, strategy="first")  # noqa: E731
    assert sorted(map(tuple, topics().collect())) == want_topics
    assert sorted(map(tuple, _arrow(monkeypatch, topics).collect())) == want_topics

    distinct = sorted(set((i, tuple(v) if v else v) for i, v in rows))
    want_knn = []
    for qi, qv in distinct:
        probes = _probes(qv, cents, nprobe)
        uq = _unit(qv)
        cand = [
            (ci, None if uq is None else _dot(uq, _unit(cv)))
            for ci, cv in distinct
            if _cell(cv, cents) in probes
        ]
        cand.sort(key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0]))
        want_knn += [(qi, ci, cos, r) for r, (ci, cos) in enumerate(cand[:k], 1)]
    want_knn.sort(key=repr)
    knn = lambda: ivf_topk(df, q, k=k, n_centroids=nc, nprobe=nprobe, strategy="first")  # noqa: E731
    for out in (knn(), _arrow(monkeypatch, knn)):
        assert sorted(map(tuple, out.collect()), key=repr) == want_knn


@_SETTINGS
@_with_edges
@given(rows=_frames())
def test_pair_scorers_match_reference(spark, monkeypatch, caplog, rows):
    nc, threshold, n_planes = 3, 0.5, 3
    df = local_vectors(spark, rows)
    cents = _first_cells(rows, nc)
    planes = _hyperplanes(DIM, n_planes, 42)
    same_cell = lambda a, b: _cell(a[1], cents) == _cell(b[1], cents)  # noqa: E731
    same_bucket = lambda a, b: _signature(a[1], planes) == _signature(b[1], planes)  # noqa: E731
    cases = [
        (lambda: semantic_dedup_pairs(
            df, threshold=threshold, n_centroids=nc, strategy="first"
        ), _pairs(rows, threshold, same_cell)),
        (lambda: embedding_dup_pairs(
            df, "vec_id", "embedding", threshold=threshold
        ), _pairs(rows, threshold)),
        (lambda: embedding_dup_pairs(
            df, "vec_id", "embedding", threshold=threshold, method="lsh",
            n_planes=n_planes, dim=DIM,
        ), _pairs(rows, threshold, same_bucket)),
    ]
    for build, want in cases:
        for engine in ("fold", "arrow"):
            assert scored(monkeypatch, caplog, engine, build) == want, engine


def test_arrow_cell_scorers_on_a_corpus_with_no_admitted_vector(spark, monkeypatch):
    # no admitted row leaves no centroid: the arrow kernels get an empty
    # matrix and must answer as the fold does, not fail on its shape
    df = spark.createDataFrame([(1, None), (2, [NAN] * DIM), (3, [0.0] * DIM)], SCHEMA)
    q = df.select(F.col("vec_id").alias("query_id"), "embedding")
    topics = _arrow(monkeypatch, lambda: topic_assign(df, n_topics=2, strategy="first"))
    assert sorted(map(tuple, topics.collect())) == [(1, None), (2, None), (3, None)]
    knn = _arrow(monkeypatch, lambda: ivf_topk(df, q, n_centroids=2, strategy="first"))
    assert knn.collect() == []
