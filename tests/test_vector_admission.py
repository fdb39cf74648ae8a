"""The vector admission rule (``similarity.unit``) and the scorers built on it.

``unit(v)`` is NULL unless ``v``'s squared norm — a left fold over dim
order — is finite and > 0.  Every vector operator keys on that: an
inadmissible row (NULL vector, NULL/NaN/inf element, zero vector, norm
overflow) gets no cell, never becomes or moves a centroid, and takes part
in no cosine.  Four groups of tests:

* ``unit()``'s bits against a plain-Python left fold;
* one regression test per operator that a NaN vector used to break;
* a generate-and-compare harness: Hypothesis frames of at most 20 rows
  (duplicate ids, NULL vectors, NULL/NaN/inf elements, zero vectors,
  empty and single-row frames, identical vectors) through the fold and the
  arrow scorer of each vector operator, both compared with a brute-force
  Python reference.  Examples are derandomized, so a run is repeatable;
* the k-means fit in one task against its checkpointed rounds and the
  oracles' numpy replay, and the jobs a bounded fit fires while building.
"""

from __future__ import annotations

import ast
import logging
import math
import random
import re
import uuid

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


# ---------------------------------------------------------------------------
# k-means: one task against the rounds
# ---------------------------------------------------------------------------

SF001, SF01 = "/root/testdata/sf0.001", "/root/testdata/sf0.01"


def _fit(monkeypatch, caplog, path, df, **kw):
    """``kmeans_centroids(df, **kw)`` with the fit gate forced to ``path``."""
    with monkeypatch.context() as m, caplog.at_level(logging.INFO, logger=similarity.__name__):
        m.setattr(similarity, "_LOCAL_FIT_ROWS", math.inf if path == "task" else -1)
        caplog.clear()
        cents = similarity.kmeans_centroids(df, **kw)
    assert f": {path} k-means fit" in caplog.text
    return cents


def _close(a, b, tol=1e-12):
    return len(a) == len(b) and all(
        len(x) == len(y) and all(abs(p - q) <= tol for p, q in zip(x, y)) for x, y in zip(a, b)
    )


def _task_equals_rounds(monkeypatch, caplog, df, rows, iters=2, **kw):
    """Both paths from one init: the init centroids equal by ``==``, the
    refined ones within 1e-12, and every row in the same cell.  Returns
    the task's refined centroids."""
    inits = [_fit(monkeypatch, caplog, p, df, iters=0, **kw) for p in ("task", "rounds")]
    assert inits[0] == inits[1]
    task, rounds = (_fit(monkeypatch, caplog, p, df, iters=iters, **kw) for p in ("task", "rounds"))
    assert _close(task, rounds)
    assert [_cell(v, task) for _, v in rows] == [_cell(v, rounds) for _, v in rows]
    return task


def _adversarial():
    """The separated clusters plus every inadmissible kind and a
    duplicated row."""
    rows, _ = _clusters(n_per=6)
    bad = [None, [NAN] * 8, [0.0] * 8, [INF] + [0.0] * 7, [-INF] + [1.0] * 7, [1.0, None] + [0.0] * 6]
    return [(-10 + i, v) for i, v in enumerate(bad)] + rows + [rows[5]]


@pytest.mark.parametrize("init", ["first", "sample"])
def test_task_fit_equals_rounds_on_adversarial_rows(spark, monkeypatch, caplog, init):
    rows = _adversarial()
    df = local_vectors(spark, rows)
    task = _task_equals_rounds(monkeypatch, caplog, df, rows, n_centroids=4, init_strategy=init)
    assert len(task) == 4 and all(len(c) == 8 for c in task)


def test_task_fit_equals_rounds_on_degenerate_corpora(spark, monkeypatch, caplog):
    kw = dict(n_centroids=3, init_strategy="first")
    none_admitted = [(1, None), (2, [NAN] * DIM), (3, [0.0] * DIM), (4, [1.0, None, 0.0, 0.0])]
    for path in ("task", "rounds"):
        assert _fit(monkeypatch, caplog, path, local_vectors(spark, none_admitted), **kw) == []
    # two admitted rows for three cells: two centroids
    few = none_admitted + [(5, [1.0, 2.0, 0.0, 0.0]), (6, [0.0, 0.0, 3.0, 4.0])]
    assert len(_task_equals_rounds(monkeypatch, caplog, local_vectors(spark, few), few, **kw)) == 2


def test_task_fit_keeps_a_cell_emptied_by_iteration_one(spark, monkeypatch, caplog):
    # three cells hold 2, 1 and 3 rows after iteration 1 and 0, 2 and 4
    # after iteration 2: cell 1 keeps its iteration-1 centroid
    vecs = [[2.0, 3.0], [1.0, 1.0], [1.0, -1.0], [-1.0, 0.0], [-2.0, -2.0], [2.0, -2.0]]
    rows = list(enumerate(vecs, 1))
    df = local_vectors(spark, rows)
    kw = dict(n_centroids=3, init_strategy="first")
    one = _fit(monkeypatch, caplog, "task", df, iters=1, **kw)
    two = _task_equals_rounds(monkeypatch, caplog, df, rows, iters=2, **kw)
    assert two[0] == one[0] and two[1:] != one[1:]
    assert {_cell(v, two) for v in vecs} == {2, 3}


def _oracle_centroids(sf_dir, k):
    from dftly_spark.contract.common import _lloyd_first_values

    return [
        ast.literal_eval(m)
        for m in re.findall(r"\(\d+, (\[[^]]*\])::DOUBLE\[\]\)", _lloyd_first_values(sf_dir, k))
    ]


def test_task_fit_matches_rounds_and_the_oracle_replay_on_testdata(spark, monkeypatch, caplog):
    from dftly_spark.io import read_table

    kw = dict(n_centroids=16, init_strategy="first")
    emb = read_table(spark, f"{SF001}/embeddings.parquet")
    rows = [tuple(r) for r in emb.select("vec_id", "embedding").collect()]
    task = _task_equals_rounds(monkeypatch, caplog, emb, rows, **kw)
    assert _close(task, _oracle_centroids(SF001, 16))
    emb01 = read_table(spark, f"{SF01}/embeddings.parquet")
    assert _close(_fit(monkeypatch, caplog, "task", emb01, iters=2, **kw), _oracle_centroids(SF01, 16))


def test_task_fit_does_not_depend_on_partitioning(spark, monkeypatch, caplog):
    # duplicate ids hold different vectors here: the task's sort on the
    # whole (key, vector) row fixes their order too
    rows = _adversarial() + [(100, [0.0] * 7 + [1.0]), (100, [1.0] * 8)]
    df = local_vectors(spark, rows)
    for init in ("first", "sample"):
        kw = dict(n_centroids=4, iters=3, init_strategy=init)
        one = _fit(monkeypatch, caplog, "task", df.coalesce(1), **kw)
        assert _fit(monkeypatch, caplog, "task", df.repartition(4), **kw) == one


def test_task_fit_rejects_vectors_of_different_lengths(spark, monkeypatch, caplog):
    # the rounds return centroids of different lengths here ([[0.89,
    # 0.45, 0.0], [0.0, 1.0]]), which score NULL against the other length;
    # the task fails and names both lengths
    rows = [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0, 0.0])]
    with pytest.raises(Exception, match="vectors of one length, got (3 and 2|2 and 3)"):
        _fit(monkeypatch, caplog, "task", local_vectors(spark, rows), n_centroids=2, iters=1,
             init_strategy="first")


@pytest.mark.parametrize("path", ["task", "rounds"])
def test_unknown_kmeans_init_raises_at_build(spark, monkeypatch, path):
    df = local_vectors(spark, [(1, [1.0, 0.0])])
    monkeypatch.setattr(similarity, "_LOCAL_FIT_ROWS", math.inf if path == "task" else -1)
    with pytest.raises(ValueError, match="unknown centroid strategy 'nope'"):
        similarity.choose_centroid_frame(df, strategy="kmeans", kmeans_init="nope")


def _jobs(spark, fn):
    """``(fn(), the ids of the Spark jobs it fired)``."""
    sc = spark.sparkContext
    group = f"kmeans-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_bounded_kmeans_fit_builds_with_no_job(spark, caplog):
    rows, _ = _clusters()
    df = local_vectors(spark, rows)
    with caplog.at_level(logging.INFO, logger=similarity.__name__):
        cents, jobs = _jobs(spark, lambda: similarity.choose_centroid_frame(
            df, n_centroids=4, strategy="kmeans", kmeans_iters=2, kmeans_init="first"
        ))
    assert jobs == []
    assert f"task k-means fit at row bound {len(rows)}" in caplog.text
    assert cents.select("_cell").distinct().count() == 4


def test_x160_builder_fires_only_the_matrix_checkpoint(spark):
    import __spark_entry__ as entry

    out, jobs = _jobs(spark, lambda: entry.queries()["x160_cluster_balanced"](spark, SF001))
    assert len(jobs) <= 1
    assert out.count() > 0
