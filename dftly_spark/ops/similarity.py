"""Similarity search over embedding columns (array<float>).

``brute_force_topk`` is the exact baseline: broadcast the (small) query set,
score every corpus row, window-rank per query.  Linear in corpus size with no
shuffle of the corpus — the scan-heavy but 100 TB-shaped plan when the query
set fits in a broadcast.

``lsh_bucket_topk`` is the approximate scale path: random-hyperplane bucket
signatures on both sides, candidates from the bucket equi-join (multi-probe
over signature hamming-1 neighbors raises recall), exact cosine re-ranking
within candidates.  An IVF variant is the same plan shape with learned
centroids as the bucketer.

All math is JVM-side (``zip_with`` + ``aggregate`` folds in double precision,
deterministic left-to-right summation — reproducible across engines).
"""

from __future__ import annotations

import logging
from typing import TYPE_CHECKING

from pyspark.sql import Column as SparkColumn
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from .scale import durable_checkpoint

from ..io import _row_bound
from ..sqlgen import portable_round

if TYPE_CHECKING:
    from pyspark import Broadcast


def dot(a: SparkColumn, b: SparkColumn) -> SparkColumn:
    """Elementwise dot product of two array columns (double), summed
    left-to-right by a ``zip_with`` + ``aggregate`` fold.  Measured on
    local[32] at 64 dims the fold is FASTER than a statically unrolled
    ``element_at`` sum, whose tree exceeds codegen method limits and falls
    back to per-node interpretation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: SparkColumn) -> SparkColumn:
    return F.sqrt(dot(a, a))


def cosine(a: SparkColumn, b: SparkColumn) -> SparkColumn:
    # try_divide: a zero vector yields NULL instead of an ANSI-mode
    # divide-by-zero job abort (identical bits whenever the norms are
    # non-zero — try_divide IS divide then)
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def unit(a: SparkColumn) -> SparkColumn:
    """L2-normalized copy of an array column, and the one admission rule
    of every vector operator in this package.

    A vector is ADMITTED when its squared L2 norm ``s`` (a left fold over
    dim order, Python's sequential ``sum(x*x)``) is finite and > 0; its
    unit vector is ``x / sqrt(s)`` per element.  Anything else — a NULL
    vector, a NULL or NaN element, a zero or empty vector, an infinite
    element or a norm that overflows — is a NULL vector.  Operators key on
    ``unit(v) IS NULL``: such a row gets no centroid cell, never becomes
    or moves a centroid, and every cosine it takes part in is NULL, so it
    drops out of thresholds and top-k rankings.

    Normalizing once per row turns per-pair cosine (three dot products)
    into a single dot product — the difference between 3·n² and n + n²
    folds in any pairwise stage.  The fold runs once per row: ``s`` rides
    into the divide as the finish lambda's variable, never as a captured
    expression (interpreted HOF lambdas re-evaluate captured expressions
    per ELEMENT, an O(dim²) row).  Spark orders NaN above +inf, so the
    ``s < inf`` guard also rejects a NaN ``s``."""
    return F.aggregate(
        a,
        F.lit(0.0),
        lambda acc, x: acc + x * x,
        lambda s: F.when(
            (s > 0) & (s < F.lit(float("inf"))),
            F.transform(a, lambda x: x / F.sqrt(s)),
        ),
    )


def infer_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimension of an embedding column, with a clear failure mode.

    Spark's ``ArrayType`` carries no length, so this has to look at a row;
    callers that know the dimension should pass ``dim=`` instead and skip the
    plan-build-time job this launches.
    """
    row = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    if row is None or row[0] is None or len(row[0]) == 0:
        raise ValueError(
            f"cannot infer vector dimension: column {vec_col!r} has no non-null, "
            "non-empty vectors — pass dim= explicitly"
        )
    return len(row[0])


def random_project(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    out_dim: int = 16,
    seed: int = 42,
    dim: int | None = None,
    out_col: str = "projection",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection of an embedding column.

    Appends ``out_col``: an ``array<double>`` of ``out_dim`` components,
    each ``dot(vec, g_i)/sqrt(out_dim)`` for seeded Gaussian directions
    ``g_i`` — pairwise distances are preserved within ~ε with out_dim =
    O(log n / ε²), so downstream dedup/ANN can run on 4× smaller vectors.
    Deterministic given the seed (the direction matrix is inlined as
    literals), and the sequential fold keeps components bit-reproducible in
    any engine with a left-to-right list dot product.
    """
    import math

    from .dedup import _hyperplanes

    if dim is None:
        dim = infer_dim(df, vec_col)
    planes = _hyperplanes(dim, out_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    v = F.col(vec_col).cast("array<double>")
    comps = [
        (dot(v, F.array(*[F.lit(float(w)) for w in p])) * F.lit(scale)).alias(f"_p{i}")
        for i, p in enumerate(planes)
    ]
    return df.withColumn(out_col, F.array(*comps))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query: ``(query_id, vec_id, cos, rank)``.

    ``queries`` must be small (it is broadcast); the corpus is scanned once,
    never shuffled before the per-query rank.
    """
    scored = _broadcast_cosine_scores(
        corpus, queries, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _broadcast_cosine_scores(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """``(query_id, id, cos)`` for every (query, corpus) pair — the shared
    scoring stage of :func:`brute_force_topk` and :func:`hard_negatives`:
    unit-normalized vectors, the (small) query set broadcast, ONE corpus
    scan, no shuffle.  Any change to the scoring shape (normalization,
    broadcast hints, tie-relevant value forms) lands in both ops here."""
    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        unit(F.col(vec_col).cast("array<double>")).alias("_qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("_cid"),
        unit(F.col(vec_col).cast("array<double>")).alias("_cv"),
    )
    return c.crossJoin(F.broadcast(q)).select(
        F.col("_qid").alias(query_id_col),
        F.col("_cid").alias(id_col),
        dot(F.col("_qv"), F.col("_cv")).alias("cos"),
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    sim_cap: float | None = None,
    sim_floor: float | None = None,
    method: str = "brute",
    n_planes: int = 6,
    seed: int = 42,
    dim: int | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Hard-negative mining for retrieval/contrastive training.

    Per query, the ``k`` most-cosine-similar corpus vectors that are NOT
    known positives (``positives`` is a ``(query_id, vec_id)`` frame —
    anti-joined out) and, optionally, sit below ``sim_cap``: the
    near-positive safety band that keeps unlabeled TRUE positives out of
    the negative set (the denoising step of RocketQA, Qu et al. 2021 —
    the single biggest false-negative source in mined negatives).
    ``sim_floor`` drops too-easy negatives from the bottom.  Returns
    ``(query_id, vec_id, cos, rank)`` like :func:`brute_force_topk`.

    ``method`` picks the candidate generator, and with it the scale
    regime — mining runs once per TRAINING QUERY, so the query side is
    usually the big one:

    * ``"brute"`` (default, exact): :func:`_broadcast_cosine_scores` —
      the query set broadcasts, the corpus is scanned once and never
      shuffled before the per-query rank.  Right while the query set
      fits a broadcast (~10⁵ × dim).
    * ``"lsh"`` (the million-query path): candidates come from the LSH
      bucket join (:func:`_lsh_candidate_scores`) with
      ``broadcast_queries=False`` — a keyed bucket equi-join with no
      broadcast of either side, so both the corpus and the query set
      scale out (the default serving hint would try to broadcast the
      exploded query frame, which stops fitting around 10⁶ queries ×
      dim=768).  Recall < 1 as with any LSH retrieval (negatives are
      sampled anyway — a missed candidate is another hard-ish negative,
      not a correctness bug).

    In BOTH methods every eligibility gate (``sim_cap``, ``sim_floor``,
    the positives anti-join, ``exclude_self``) is applied to the full
    candidate set BEFORE the single top-``k`` rank, so a gate can never
    starve the result: whenever ≥ ``k`` eligible candidates exist in
    the candidate pool, ``k`` rows come back.  (Earlier revisions
    truncated LSH candidates to an over-fetch budget before gating and
    could under-fill inside dense near-positive clusters.)

    SELF-MATCH TRAP — when queries are drawn from the corpus itself
    (the typical mining setup), each query's own vector scores
    cos ≈ 1.0 and, unless it is listed in ``positives`` or cut by
    ``sim_cap``, would surface as the #1 "hard negative"; a self-match
    is never a valid negative.  Pass ``exclude_self=True`` to anti-join
    candidates where ``query_id == id`` (requires the two id columns to
    share a namespace, i.e. query ids ARE corpus ids), or keep the
    default and handle it via ``positives``/``sim_cap``.
    """
    if method == "lsh":
        scored = _lsh_candidate_scores(
            corpus,
            queries,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            n_planes=n_planes,
            seed=seed,
            dim=dim,
            broadcast_queries=False,
        )
    elif method == "brute":
        scored = _broadcast_cosine_scores(
            corpus, queries, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col
        )
    else:
        raise ValueError(f"method must be 'brute' or 'lsh', got {method!r}")
    if sim_cap is not None:
        scored = scored.where(F.col("cos") < F.lit(float(sim_cap)))
    if sim_floor is not None:
        scored = scored.where(F.col("cos") >= F.lit(float(sim_floor)))
    if exclude_self:
        scored = scored.where(F.col(query_id_col) != F.col(id_col))
    pos = positives.select(
        F.col(query_id_col), F.col(id_col)
    )
    scored = scored.join(pos, [query_id_col, id_col], "left_anti")
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def kmeans_centroids(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    seed: int = 42,
    init_strategy: str = "sample",
) -> list[list[float]]:
    """Lloyd's k-means over an embedding column; returns unit centroids.

    The driver-side read of :func:`choose_centroid_frame`'s ``"kmeans"``
    fit, which takes one of two paths.  Up to ``_LOCAL_FIT_ROWS`` rows
    (a job-free bound) the whole fit runs in numpy inside one executor
    task (:func:`_lloyd_task`), and the final collect is its only job.
    Above that, or with no bound, each iteration is two distributed steps
    (:func:`_lloyd`) — assign (argmax dot against the current centroid
    matrix, attached via 1-row broadcast) and update (posexplode +
    groupBy(cell, dim) avg, a map-side-combinable aggregation whose
    output is ``k×dim`` rows), with centroid state DataFrame-RESIDENT
    across iterations (checkpointed ``k×dim`` frame).  On either path the
    driver sees the matrix exactly once, in the final collect — at
    production IVF shapes (k=65k, dim=1k) the ~0.5 GB matrix never rides
    py4j per iteration.  Empty cells keep their previous centroid.

    ``init_strategy`` picks the starting centroids, cluster-side (no
    driver read): ``"sample"`` (seeded hash-ordered sample — default) or
    ``"first"`` (lowest-id vectors — replayable by an external engine
    without xxhash64, which is what the x56 driver oracle needs).
    """
    return _collect_centroid_lists(
        choose_centroid_frame(
            corpus, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids,
            strategy="kmeans", seed=seed, kmeans_iters=iters,
            kmeans_init=init_strategy,
        )
    )


def _collect_centroid_lists(cdf: DataFrame) -> list[list[float]]:
    """ONE bounded k×dim driver read of a long-form ``(_cell, _i, _m)``
    centroid frame → ``list[list[float]]`` ordered by cell index.  THE
    frame→matrix reconstruction — :func:`kmeans_centroids`'s final read
    and :func:`_cents_numpy` both resolve here, so the cell/dim encoding
    has exactly one decoder."""
    by_cell: dict[int, dict[int, float]] = {}
    for r in cdf.collect():
        by_cell.setdefault(int(r["_cell"]), {})[int(r["_i"])] = float(r["_m"])
    return [
        [by_cell[ci][i] for i in sorted(by_cell[ci])]
        for ci in sorted(by_cell)
    ]


def _matrix_frame(cdf: DataFrame) -> DataFrame:
    """Long-form centroids ``(_cell, _i, _m)`` → ONE row ``(_cm:
    array<array<double>>)`` ordered by cell index (cell ``c`` at position
    ``c``; cells are 1-based and contiguous).  The k×dim matrix is built
    cluster-side and reaches consumers as a 1-row broadcast — never a plan
    literal, never a py4j transfer."""
    return (
        cdf.groupBy("_cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_i", "_m"))),
                lambda s: s["_m"],
            ).alias("_cv")
        )
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_cell", "_cv"))),
                lambda s: s["_cv"],
            ).alias("_cm")
        )
    )


def _lloyd(base: DataFrame, cdf: DataFrame, iters: int) -> DataFrame:
    """``iters`` Lloyd iterations over long-form centroid state, two
    checkpointed rounds each: the fit for corpora above
    ``_LOCAL_FIT_ROWS`` rows or with no job-free row bound.

    ``base`` is the corpus as one ``_v: array<double>`` column; ``cdf`` the
    (checkpointed) ``(_cell, _i, _m)`` centroid frame.  Returns the refined
    centroid frame, checkpointed.  Only admitted rows (:func:`unit`) are
    assigned, so no NULL, NaN, zero or infinite vector enters a mean.

    Arithmetic is reproducible by an external engine: per-dim means are a
    keyed avg, and the unit norm is :func:`unit`'s left fold over dim
    order — a window SUM would reorder the partial sums."""
    base = base.where(unit(F.col("_v")).isNotNull())
    for _ in range(iters):
        cmat = _matrix_frame(cdf)
        assigned = base.crossJoin(F.broadcast(cmat)).select(
            "_v", _argmax_cell(_cell_scores(F.col("_v"))).alias("_cell")
        )
        means = (
            assigned.select("_cell", F.posexplode("_v").alias("_i", "_x"))
            .groupBy("_cell", "_i")
            .agg(F.avg("_x").alias("_mn"))
        )
        # empty cells emit no mean rows -> keep the previous centroid
        raw = (
            cdf.alias("p")
            .join(
                means.alias("n"),
                (F.col("p._cell") == F.col("n._cell"))
                & (F.col("p._i") == F.col("n._i")),
                "left",
            )
            .select(
                F.col("p._cell").alias("_cell"),
                F.col("p._i").alias("_i"),
                F.coalesce(F.col("n._mn"), F.col("p._m")).alias("_r"),
                F.col("n._mn").isNotNull().alias("_new"),
            )
        )
        # a kept (empty-cell) centroid is ALREADY unit and must pass
        # through untouched — re-dividing by its ~1.0±ε norm would drift
        # the low bits the oracle hash checks; a zero mean stays as it is
        per_cell = raw.groupBy("_cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_i", "_r"))), lambda s: s["_r"]
            ).alias("_vr"),
            F.max(F.col("_new")).alias("_had"),
        )
        vr = F.col("_vr")
        cdf = (
            per_cell.select(
                "_cell",
                F.posexplode(
                    F.when(F.col("_had"), F.coalesce(unit(vr), vr)).otherwise(vr)
                ).alias("_i", "_m"),
            )
            .transform(durable_checkpoint)
        )
    return cdf


def _lloyd_task(
    corpus: DataFrame, key: SparkColumn, vec_col: str, n: int, iters: int
) -> DataFrame:
    """:func:`_lloyd` in ONE executor task, as a lazy ``(_cell, _i, _m)``
    frame: the admitted rows (:func:`unit`) are coalesced into one
    partition, sorted by ``(_k, _v)`` there, and fitted in numpy
    (:func:`_lloyd_fit`).  The sort fixes every summation order, so the
    centroids do not depend on how the rows arrive."""
    v = F.col(vec_col).cast("array<double>")
    return (
        corpus.select(key, v.alias("_v"))
        .where(unit(F.col("_v")).isNotNull())
        .coalesce(1)
        .sortWithinPartitions("_k", "_v")
        .mapInArrow(
            lambda batches: _lloyd_batches(batches, n, iters),
            "_cell int, _i int, _m double",
        )
    )


def _lloyd_batches(batches, n: int, iters: int):
    """The task side of :func:`_lloyd_task`: every Arrow batch of the one
    partition → one long-form batch of the fitted centroids (none when no
    row is admitted).  Vectors of different lengths have no mean: the
    task fails with an error naming two of the lengths."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    vecs = [b.column("_v") for b in batches if b.num_rows]
    if not vecs:
        return
    col = pa.concat_arrays(vecs)
    lens = pc.list_value_length(col).to_numpy()
    if (lens != lens[0]).any():
        raise ValueError(
            f"k-means needs vectors of one length, got {lens[0]} and "
            f"{lens[lens != lens[0]][0]}"
        )
    dim = int(lens[0])
    V = col.flatten().to_numpy(zero_copy_only=False).reshape(len(col), dim)
    C = _lloyd_fit(V, n, iters)
    k = len(C)
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(np.repeat(np.arange(1, k + 1, dtype=np.int32), dim)),
            pa.array(np.tile(np.arange(dim, dtype=np.int32), k)),
            pa.array(C.ravel()),
        ],
        names=["_cell", "_i", "_m"],
    )


def _lloyd_fit(V, n: int, iters: int):
    """Lloyd's k-means over admitted rows ``V`` (n_rows×dim float64, in
    key order), with :func:`_lloyd`'s arithmetic rules:

    * init: the first ``n`` rows, unit-normalized by :func:`_fold_unit`;
    * assign: :func:`_cos_matrix`'s left-fold dot of each raw row against
      each centroid, then the first maximum (lowest cell wins ties);
    * update: each cell's raw mean, summed in row order, unit-normalized
      by the fold where it is admitted (a zero mean stays as it is); an
      empty cell keeps its previous centroid."""
    import numpy as np

    C, _ = _fold_unit(V[:n])
    for _ in range(iters if len(C) else 0):
        cell = _cos_matrix(V, C).argmax(axis=1)
        sums = np.zeros_like(C)
        np.add.at(sums, cell, V)  # unbuffered: row by row, in key order
        counts = np.bincount(cell, minlength=len(C))
        had = counts > 0
        mean = sums[had] / counts[had][:, None]
        U, ok = _fold_unit(mean)
        C[had] = np.where(ok[:, None], U, mean)
    return C


def _fold_unit(M):
    """``(U, ok)``: each row of ``M`` divided by the square root of its
    squared norm, summed as :func:`unit`'s left fold over dim order, and
    the mask of rows whose squared norm is finite and > 0 (``U`` holds
    garbage elsewhere)."""
    import numpy as np

    s = np.zeros(len(M))
    for j in range(M.shape[1]):
        s += M[:, j] * M[:, j]
    ok = (s > 0) & (s < np.inf)
    with np.errstate(divide="ignore", invalid="ignore"):
        return M / np.sqrt(s)[:, None], ok


def _cos_matrix(A, B):
    """``A @ B.T`` accumulated in ASCENDING DIMENSION ORDER — for every
    pair, exactly the JVM fold's sequence of IEEE-double multiply-then-add
    (a BLAS matmul would reorder it)."""
    import numpy as np

    C = np.zeros((A.shape[0], B.shape[0]))
    buf = np.empty_like(C)
    for k in range(A.shape[1]):
        np.multiply(A[:, k][:, None], B[:, k][None, :], out=buf)
        C += buf
    return C


#: row bound up to which a ``"kmeans"`` fit runs in one task
#: (:func:`_lloyd_task`) instead of ``2×iters`` checkpointed rounds: 2**13
#: rows are 64 MB of float64 at dim 1,024 (4 MB at the testdata's 64)
_LOCAL_FIT_ROWS = 2**13


def choose_centroid_frame(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    strategy: str = "first",
    seed: int = 42,
    kmeans_iters: int = 5,
    kmeans_init: str = "sample",
) -> DataFrame:
    """Unit centroids for cell-based indexes (IVF, semantic dedup, topic
    assignment) as a long-form DataFrame ``(_cell int, _i int, _m double)``,
    cells 1-based and contiguous.

    * ``"first"`` — the ``n_centroids`` lowest-id corpus vectors; fully
      deterministic and replayable in plain SQL (the driver oracles do).
    * ``"sample"`` — seeded hash-ordered sample, independent of data order.
    * ``"kmeans"`` — Lloyd refinement (``kmeans_iters`` iterations) from
      the ``kmeans_init`` init ("sample" default; "first" for external
      replay); best cell balance/recall.  Where the corpus's job-free row
      bound (:func:`~dftly_spark.io._row_bound`) is at most
      ``_LOCAL_FIT_ROWS``, the whole fit runs in one executor task
      (:func:`_lloyd_task`) and the returned frame is lazy: building it
      fires no job.  Otherwise, or where the plan gives no bound, the fit
      is :func:`_lloyd`'s ``2×iters`` checkpointed rounds at build time.
      The choice is logged (INFO) with its inputs.

    Rows :func:`unit` does not admit are never chosen.  The k×dim matrix
    is selected, normalized, and refined entirely CLUSTER-SIDE: the driver
    never holds it, it never rides py4j, and consumers attach it as a
    checkpointed 1-row broadcast (:func:`_matrix_frame`) — the shape that
    survives the production IVF size (k=65k, dim=1k ≈ 0.5 GB), where plan
    literals break the plan/py4j layer.  Centroids are :func:`unit`
    vectors, whose norm is a left fold over dim order, so an external
    engine replays them bit-for-bit.  The ``"first"``/``"sample"`` and
    round-fitted frames are checkpointed (consumers reference them 2+
    times — once per side of the candidate join); the task-fitted frame
    is read once, by the consumer's own checkpoint or collect."""
    if strategy in ("first", "sample"):
        return _init_centroid_frame(
            corpus, id_col=id_col, vec_col=vec_col, n=n_centroids,
            strategy=strategy, seed=seed,
        )
    if strategy != "kmeans":
        raise ValueError(f"unknown centroid strategy {strategy!r}")
    key = _centroid_key(id_col, kmeans_init, seed)
    bound = _row_bound(corpus)
    path = "task" if bound is not None and bound <= _LOCAL_FIT_ROWS else "rounds"
    logging.getLogger(__name__).info(
        "choose_centroid_frame: %s k-means fit at row bound %s (task up to %s rows)",
        path, bound, _LOCAL_FIT_ROWS,
    )
    if path == "task":
        return _lloyd_task(corpus, key, vec_col, n_centroids, kmeans_iters)
    init = _init_centroid_frame(
        corpus, id_col=id_col, vec_col=vec_col, n=n_centroids,
        strategy=kmeans_init, seed=seed,
    )
    base = corpus.select(F.col(vec_col).cast("array<double>").alias("_v"))
    return _lloyd(base, init, kmeans_iters)


def _centroid_key(id_col: str, strategy: str, seed: int) -> SparkColumn:
    """``_k``, the order the ``"first"``/``"sample"`` rules pick centroids
    in: the id, or its seeded ``xxhash64``."""
    if strategy == "first":
        return F.col(id_col).alias("_k")
    if strategy == "sample":
        return F.xxhash64(F.col(id_col), F.lit(seed)).alias("_k")
    raise ValueError(f"unknown centroid strategy {strategy!r}")


def _init_centroid_frame(
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    n: int,
    strategy: str,
    seed: int,
) -> DataFrame:
    """Cluster-side ``(_cell, _i, _m)`` unit-centroid frame for the
    ``"first"`` / ``"sample"`` selection rules: the ``n`` lowest-key
    :func:`unit` vectors.  Inadmissible rows are dropped BEFORE the limit:
    a NULL among the chosen rows would posexplode to no ``(_cell, _i,
    _m)`` rows and leave a gap in the cell numbering, which
    :func:`_matrix_frame` closes by shifting every later cell down one.
    The global row_number window runs over the already-LIMITed n-row
    frame (bounded SinglePartition, same regime as a top-k collect)."""
    key = _centroid_key(id_col, strategy, seed)
    # the filter's fold runs on every row, the unit() below only on the n
    # chosen ones: a `_u` column filtered on would run the fold twice per
    # row (the filter is pushed below the projection that computes it)
    return (
        corpus.select(key, F.col(vec_col).cast("array<double>").alias("_v"))
        .where(unit(F.col("_v")).isNotNull())
        .orderBy("_k")
        .limit(n)
        .withColumn("_cell", F.row_number().over(Window.orderBy("_k")))
        .select("_cell", F.posexplode(unit(F.col("_v"))).alias("_i", "_m"))
        .transform(durable_checkpoint)
    )


def _cents_numpy(cents: DataFrame) -> "object":
    """Long-form centroids → a k×dim float64 numpy matrix: one bounded
    k×dim driver pull, the same class of collect as
    :func:`kmeans_centroids`'s final read."""
    import numpy as np

    return np.asarray(_collect_centroid_lists(cents), dtype=np.float64)


def _scores_arrow(pdf, vec_col: str, Cm):
    """One pandas batch of ``(id, vec, _u)`` rows → ``(S, ok)``: the raw
    vectors' scores against the centroid matrix ``Cm`` (one BLAS matmul),
    a zero row wherever :func:`unit` did not admit the vector (``_u`` is
    NULL), and the admitted-row mask.  With no centroids (a corpus with no
    admitted row) no row is admitted and ``S`` is one zero column."""
    import numpy as np

    if Cm.size == 0:
        return np.zeros((len(pdf), 1)), np.zeros(len(pdf), dtype=bool)
    ok = pdf["_u"].notna().to_numpy()
    V = np.zeros((len(pdf), Cm.shape[1]))
    if ok.any():
        V[ok] = np.stack(pdf[vec_col][ok].to_numpy())
    return V @ Cm.T, ok


def _assign_cells_arrow(
    corpus: DataFrame, bc: Broadcast, *, id_col: str, vec_col: str
) -> DataFrame:
    """``(_id, _v, _cell)`` via an Arrow-batched numpy matmul.

    The production-shape scorer: the interpreted HOF fold costs ~10 ns per
    multiply-add (358 s for 16 k rows × k=4096 × dim=512, SCALING.md);
    one BLAS matmul over the same batch is hundreds of times faster.  The
    k×dim matrix ships to executors as a TorrentBroadcast variable —
    broadcast VARIABLES are built for 0.5 GB payloads; it was plan
    LITERALS that broke at that size.  Tie rule matches the fold path
    (``argmax`` returns the FIRST maximum = lowest cell).  BLAS reorders
    the per-dot accumulation (blocking/FMA), so scores can differ from
    the sequential fold in the last ulp — argmax flips only on
    effectively-tied cells, which is why it runs only at production k
    (:func:`_centroid_matrix`) and the hash-pinned gate queries stay on
    the fold.  ``_v`` is Spark's :func:`unit` of the row, and a row it
    does not admit gets a NULL ``_cell``, as on the fold."""
    import pandas as pd

    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"_id {id_type}, _v array<double>, _cell long"

    def score(batches):
        Cm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            S, ok = _scores_arrow(pdf, vec_col, Cm)
            cell = pd.array(S.argmax(axis=1) + 1, dtype="Int64")
            cell[~ok] = pd.NA
            yield pd.DataFrame(
                {"_id": pdf[id_col].to_numpy(), "_v": pdf["_u"].to_numpy(), "_cell": cell}
            )

    return corpus.select(
        id_col, vec_col, unit(F.col(vec_col).cast("array<double>")).alias("_u")
    ).mapInPandas(score, out_schema)


def _probe_cells_arrow(
    queries: DataFrame, bc: Broadcast, *, id_col: str, vec_col: str, nprobe: int
) -> DataFrame:
    """Exploded ``(_id, _v, _cell)`` rows — each query's ``nprobe`` nearest
    cells — via the same Arrow/numpy matmul as :func:`_assign_cells_arrow`.
    Tie rule matches the fold path's ``(-score, cell)`` struct sort: a
    STABLE descending-score argsort keeps the lower cell first on ties, so
    an inadmissible query (a zero score row) probes cells ``1..nprobe``."""
    import numpy as np
    import pandas as pd

    id_type = queries.schema[id_col].dataType.simpleString()
    out_schema = f"_id {id_type}, _v array<double>, _cell long"

    def probe(batches):
        Cm = bc.value
        np_probe = min(int(nprobe), Cm.shape[0])
        for pdf in batches:
            if len(pdf) == 0:
                continue
            S, _ = _scores_arrow(pdf, vec_col, Cm)
            top = np.argsort(-S, axis=1, kind="stable")[:, :np_probe] + 1
            yield pd.DataFrame(
                {
                    "_id": np.repeat(pdf[id_col].to_numpy(), np_probe),
                    "_v": np.repeat(pdf["_u"].to_numpy(), np_probe),
                    "_cell": top.reshape(-1).astype("int64"),
                }
            )

    return queries.select(
        id_col, vec_col, unit(F.col(vec_col).cast("array<double>")).alias("_u")
    ).mapInPandas(probe, out_schema)


#: centroid count at which the cell scorers leave the interpreted fold for
#: the Arrow/numpy matmul: at k=1024 the ~10 ns-per-multiply-add HOF fold
#: is already ~order-of-magnitude behind (SCALING.md probes 30x at
#: k=4096 x dim=512 and 164x at k=8192 x dim=768).
_ARROW_CELLS = 1024


def _centroid_matrix(cents: DataFrame, k: int, where: str) -> DataFrame | Broadcast:
    """The one choice between the two cell scorers, made from the centroid
    count ``k`` alone and logged (INFO) with its inputs either way.

    Below ``_ARROW_CELLS`` the hash-exact interpreted fold scores: gate
    and oracle scale stay replayable with zero Python-on-data, and the
    return value is its centroid matrix — the 1-row ``_cm`` frame,
    eagerly checkpointed so the k×dim aggregation runs once at build time
    and every consumer plan sees a 1-row scan.  At or above it the Arrow
    matmul scores (30–160× on the SCALING.md probes) and the return value
    is its centroid matrix as a numpy broadcast variable: one k×dim
    driver pull, shared by every kernel the caller runs.  BLAS reorders
    the per-dot accumulation, so arrow scores can differ from the fold's
    in the last ulp and flip effectively-tied cells."""
    choice = "arrow" if k >= _ARROW_CELLS else "fold"
    logging.getLogger(__name__).info(
        "%s: %s cell scorer at k=%d centroids (arrow from k >= %d)",
        where, choice, k, _ARROW_CELLS,
    )
    if choice == "arrow":
        return cents.sparkSession.sparkContext.broadcast(_cents_numpy(cents))
    return _matrix_frame(cents).transform(durable_checkpoint)


def _cell_scores(v: SparkColumn) -> SparkColumn:
    """``v``'s dot product with every centroid of the attached 1-row
    ``_cm`` matrix — the fold every cell scorer shares (Lloyd's assign
    step, corpus assignment, query probing).  Fold order matches DuckDB's
    ``list_dot_product`` bit-for-bit."""
    return F.transform(F.col("_cm"), lambda c: dot(v, c))


def _argmax_cell(scores: SparkColumn) -> SparkColumn:
    """1-based index of the first maximum score: the lowest cell wins ties."""
    return F.array_position(scores, F.array_max(scores))


def _with_cell_scores(
    df: DataFrame, cmat: DataFrame, id_expr, vec_col: str, id_alias: str, v_alias: str
) -> DataFrame:
    """``(id_alias, v_alias, _s)`` — each row's :func:`unit` vector with
    ``_s``, its raw vector's :func:`_cell_scores` against the 1-row ``_cm``
    matrix frame (attached as a broadcast).  A row :func:`unit` does not
    admit scores as a NULL vector: every score is NULL, so it gets no
    argmax cell and probes cells ``1..nprobe``."""
    # both vectors become ATTRIBUTES below the cross join, before the fold
    # captures them: expressions captured by interpreted HOF lambdas
    # re-evaluate per outer element, so a captured cast or unit() would
    # re-run once per CELL (k× per row); no projection collapses into the
    # lambda across the join, even when the caller prunes v_alias
    v = F.col(vec_col).cast("array<double>")
    return (
        df.select(id_expr.alias(id_alias), v.alias("_raw"))
        .select(id_alias, "_raw", unit(F.col("_raw")).alias(v_alias))
        .crossJoin(F.broadcast(cmat))
        .select(
            id_alias,
            v_alias,
            _cell_scores(F.when(F.col(v_alias).isNotNull(), F.col("_raw"))).alias("_s"),
        )
    )


def _assign(
    corpus: DataFrame,
    cmat: DataFrame | Broadcast,
    *,
    id_col: str,
    vec_col: str,
    id_alias: str,
    v_alias: str,
) -> DataFrame:
    """``(id_alias, v_alias, _cell)`` on the scorer :func:`_centroid_matrix`
    chose: the fold against a ``cmat`` frame, or the arrow matmul against a
    ``cmat`` broadcast."""
    if not isinstance(cmat, DataFrame):
        return _assign_cells_arrow(
            corpus, cmat, id_col=id_col, vec_col=vec_col
        ).select(F.col("_id").alias(id_alias), F.col("_v").alias(v_alias), "_cell")
    c = _with_cell_scores(corpus, cmat, F.col(id_col), vec_col, id_alias, v_alias)
    # Separate select so `_s` is computed once, not inlined per reference.
    return c.select(id_alias, v_alias, _argmax_cell(F.col("_s")).alias("_cell"))


def _probe(
    queries: DataFrame,
    cmat: DataFrame | Broadcast,
    *,
    id_col: str,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """``(_qid, _qv, _cell)`` — each query's ``nprobe`` nearest cells, one
    row per probe, on the scorer :func:`_centroid_matrix` chose (as
    :func:`_assign`)."""
    if not isinstance(cmat, DataFrame):
        return _probe_cells_arrow(
            queries, cmat, id_col=id_col, vec_col=vec_col, nprobe=nprobe
        ).select(F.col("_id").alias("_qid"), F.col("_v").alias("_qv"), "_cell")
    q = _with_cell_scores(queries, cmat, F.col(id_col), vec_col, "_qid", "_qv")
    # top-nprobe cells per query: sort (−score, cell-index) structs, slice.
    ranked = F.array_sort(
        F.zip_with(
            F.col("_s"),
            F.sequence(F.lit(1), F.size(F.col("_s"))),
            lambda s, i: F.struct((-s).alias("neg"), i.alias("cell")),
        )
    )
    probes = F.transform(
        F.slice(ranked, 1, nprobe), lambda st: st["cell"].cast("long")
    )
    return q.select("_qid", "_qv", F.explode(probes).alias("_cell"))


def assign_cells(
    corpus: DataFrame,
    cents: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(_id, _v, _cell)`` — :func:`unit` vectors with their nearest
    centroid cell (argmax dot; first/lowest cell wins ties), both NULL for
    a row :func:`unit` does not admit.  Centroids are unit vectors, so
    argmax(dot) ≡ argmax(cosine) with no per-row norm.

    ``cents`` is the long-form ``(_cell, _i, _m)`` frame of ``k`` cells
    from :func:`choose_centroid_frame`.  ``k`` picks the scorer
    (:func:`_centroid_matrix`): the hash-exact interpreted fold against a
    checkpointed 1-row broadcast of the matrix below 1024 cells, the
    Arrow-batched numpy matmul (:func:`_assign_cells_arrow`) at or above,
    with its last-ulp score caveat."""
    return _assign(
        corpus, _centroid_matrix(cents, k, "assign_cells"),
        id_col=id_col, vec_col=vec_col, id_alias="_id", v_alias="_v",
    )


def topic_assign(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_topics: int = 16,
    strategy: str = "first",
    seed: int = 42,
    kmeans_iters: int = 5,
    kmeans_init: str = "sample",
) -> DataFrame:
    """Assign every embedding to a centroid cell: ``(id_col, topic)``.

    The corpus-bucketing primitive behind cluster-balanced sampling and
    topic-level accounting (the DoReMi / cluster-reweighting recipe's first
    step): rows join their nearest of ``n_topics`` centroids — a row-local
    argmax against a broadcast centroid matrix, NO shuffle at all — and
    downstream mixture ops (``mixture_sample``, ``rollup_stats``,
    ``cap_per_group``) treat the topic like any other group column.
    ``strategy`` as in :func:`choose_centroid_frame`; ``"kmeans"`` gives
    the balanced cells a real deployment wants.  The matrix stays
    cluster-resident and reaches the executors as a 1-row broadcast.
    ``n_topics`` picks the scorer as in :func:`assign_cells`.
    """
    cents = choose_centroid_frame(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_topics,
        strategy=strategy,
        seed=seed,
        kmeans_iters=kmeans_iters,
        kmeans_init=kmeans_init,
    )
    return assign_cells(
        corpus, cents, n_topics, id_col=id_col, vec_col=vec_col
    ).select(F.col("_id").alias(id_col), F.col("_cell").alias("topic"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    strategy: str = "first",
    kmeans_iters: int = 5,
    kmeans_init: str = "sample",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index.

    Every corpus row is assigned to its nearest centroid cell; each query
    probes its ``nprobe`` nearest cells and re-ranks candidates with the
    exact cosine.  The candidate join is a keyed equi-join on cell id — the
    100 TB shape — scanning ~``nprobe/n_centroids`` of the corpus per query
    instead of all of it.  Recall < 1 by design.

    ``strategy`` picks the centroids (:func:`choose_centroid_frame`):

    * ``"first"`` — the ``n_centroids`` lowest-id corpus vectors,
      unit-normalized.  Fully deterministic and expressible in plain SQL, so
      an external engine can replay the whole index (the x12 driver oracle
      does); centroid quality is whatever the data order gives.
    * ``"sample"`` — deterministic hash-ordered sample (seeded; spreads
      centroids independent of data order).
    * ``"kmeans"`` — Lloyd refinement from the ``kmeans_init`` init
      (``kmeans_iters`` iterations); best cell balance/recall.  Up to
      ``_LOCAL_FIT_ROWS`` rows the fit runs in one task inside the
      matrix checkpoint below; above that, or with no job-free row bound,
      it costs ``2×iters`` extra distributed jobs at build time.

    The k×dim matrix stays cluster-resident end-to-end: it is built and
    refined as a DataFrame, and both the corpus assignment and the query
    probing attach it as a 1-row broadcast — the shape that survives
    k=65k×dim=1k (≈ 0.5 GB), where plan literals break the plan/py4j
    layer.

    ``n_centroids`` picks one scorer for both the corpus cell assignment
    and the query nprobe ranking (:func:`_centroid_matrix`): the
    hash-exact fold below 1024 cells, Arrow-batched numpy matmuls at or
    above, where effectively-tied cells/probes can differ from the fold in
    the last ulp.  The candidate re-rank is the JVM-side exact-cosine fold
    either way (per-pair, k-independent).
    """
    cents = choose_centroid_frame(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        strategy=strategy,
        seed=seed,
        kmeans_iters=kmeans_iters,
        kmeans_init=kmeans_init,
    )
    # one matrix for both sides: without the shared checkpoint the k×dim
    # aggregation would execute twice and ride both plans as an Exchange;
    # on the arrow path, one driver pull and one broadcast serve both
    cmat = _centroid_matrix(cents, n_centroids, "ivf_topk")
    c = _assign(
        corpus, cmat,
        id_col=id_col, vec_col=vec_col, id_alias="_cid", v_alias="_cv",
    )
    q = _probe(
        queries, cmat, id_col=query_id_col, vec_col=vec_col, nprobe=nprobe
    )
    scored = c.join(F.broadcast(q), "_cell").select(
        F.col("_qid").alias(query_id_col),
        F.col("_cid").alias(id_col),
        dot(F.col("_qv"), F.col("_cv")).alias("cos"),
    ).dropDuplicates([query_id_col, id_col])
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def topk_recall(
    truth: DataFrame,
    approx: DataFrame,
    *,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
    k: int | None = None,
) -> DataFrame:
    """Per-query recall of an approximate top-k against the exact one.

    The index-tuning harness: feed :func:`brute_force_topk` output as
    ``truth`` and any approximate ranking (:func:`lsh_bucket_topk`,
    :func:`ivf_topk`) as ``approx``; returns ``(query_id, n_hits,
    n_truth, recall)`` with ``recall = |approx ∩ truth| / |truth|`` at
    ``rank ≤ k`` (``k=None`` uses the frames as given).  Queries with no
    approximate results (empty probes) score 0, not a missing row.

    100 TB: both inputs are already per-query top-k frames — tiny
    relative to the corpus — so this is two map-side-combined keyed
    aggregations and one semi-join on ``(query, id)``; no corpus-sized
    work.  Recall is an exact small-int ratio: both engines compute the
    identical double from the identical ints, no rounding shim needed.
    """
    t = truth if k is None else truth.where(F.col(rank_col) <= k)
    a = approx if k is None else approx.where(F.col(rank_col) <= k)
    hits = (
        t.select(query_id_col, id_col)
        .join(a.select(query_id_col, id_col), [query_id_col, id_col], "left_semi")
        .groupBy(query_id_col)
        .agg(F.count(F.lit(1)).alias("_h"))
    )
    return (
        t.groupBy(query_id_col)
        .agg(F.count(F.lit(1)).alias("_t"))
        .join(hits, query_id_col, "left")
        .select(
            F.col(query_id_col),
            F.coalesce(F.col("_h"), F.lit(0)).cast("int").alias("n_hits"),
            F.col("_t").cast("int").alias("n_truth"),
            (F.coalesce(F.col("_h"), F.lit(0)) / F.col("_t")).alias("recall"),
        )
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_planes: int = 6,
    seed: int = 42,
    dim: int | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k via random-hyperplane buckets + exact re-rank.

    Candidates are corpus rows sharing the query's bucket or any hamming-1
    neighbor bucket (multi-probe).  Returns the same schema as
    :func:`brute_force_topk`; recall < 1 by design — the candidate join is a
    keyed join instead of a full scan per query.

    ``broadcast_queries`` (default True) hints the exploded query side of
    the bucket join into a broadcast — right for the serving shape (a
    bounded query set against a huge corpus; the corpus never shuffles).
    Pass False for query sets too large to broadcast (the exploded side
    is ``|queries| × (n_planes + 1)`` rows of ``dim`` doubles — Spark's
    8 GB broadcast-table limit lands around 10⁶ × dim=768): the join
    becomes a plain keyed shuffle on the bucket id, both sides scale
    out, and AQE still auto-broadcasts when the runtime size allows.
    :func:`hard_negatives` with ``method="lsh"`` — the
    millions-of-training-queries regime — passes False.
    """
    scored = _lsh_candidate_scores(
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        n_planes=n_planes,
        seed=seed,
        dim=dim,
        broadcast_queries=broadcast_queries,
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _lsh_candidate_scores(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    n_planes: int,
    seed: int,
    dim: int | None,
    broadcast_queries: bool,
) -> DataFrame:
    """Exact-scored LSH candidates ``(query_id, id, cos)``, deduped, with
    NO per-query truncation — the shared candidate stage of
    :func:`lsh_bucket_topk` and :func:`hard_negatives`'s LSH leg.
    Exposing the un-truncated frame lets callers apply their own
    eligibility gates (similarity caps, anti-joins) BEFORE any top-k cut,
    so a gate can never be starved by an earlier truncation."""
    from .dedup import _hyperplanes, _plane_signature

    if dim is None:
        dim = infer_dim(corpus, vec_col)
    planes = _hyperplanes(dim, n_planes, seed)

    c = corpus.select(
        F.col(id_col).alias("_cid"), F.col(vec_col).cast("array<double>").alias("_cv")
    ).withColumn("_bucket", _plane_signature(F.col("_cv"), planes)).withColumn(
        "_cv", unit(F.col("_cv"))
    )

    q = queries.select(
        F.col(query_id_col).alias("_qid"), F.col(vec_col).cast("array<double>").alias("_qv")
    ).withColumn("_b0", _plane_signature(F.col("_qv"), planes)).withColumn(
        "_qv", unit(F.col("_qv"))
    )
    # multi-probe: own bucket + flip each of the n_planes bits
    probes = F.array_union(
        F.array(F.col("_b0")),
        F.array(
            *[
                F.col("_b0").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(n_planes)
            ]
        ),
    )
    q = q.select("_qid", "_qv", F.explode(probes).alias("_bucket"))

    return c.join(F.broadcast(q) if broadcast_queries else q, "_bucket").select(
        F.col("_qid").alias(query_id_col),
        F.col("_cid").alias(id_col),
        dot(F.col("_qv"), F.col("_cv")).alias("cos"),
    ).dropDuplicates([query_id_col, id_col])


def centroid_outliers(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 50,
    decimals: int = 6,
) -> DataFrame:
    """The ``k`` embeddings farthest (lowest cosine) from the corpus centroid.

    The embedding-space triage view: mislabeled points, encoder failures,
    and out-of-domain contamination all land in the far tail of
    centroid similarity.  Output: ``(id, centroid_cos)`` for the ``k``
    lowest, ranked ascending (ties broken by id on the ROUNDED score, so
    the selected set is stable across engines and runs).  The centroid
    averages the rows :func:`unit` admits; any other row scores NULL and
    ranks first, with the NULL vectors.

    Plan: ONE per-dimension aggregation (posexplode → groupBy(dim) —
    shuffle width is ``dim`` rows, not data), the 1-row centroid rides the
    sanctioned tiny broadcast back over the corpus (same shape as BM25's
    corpus stats), and the cut is a TakeOrdered — no full sort.  The
    centroid's float sums are partition-order dependent at the 1e-13
    level, hence scoring to ``decimals`` BEFORE ranking.
    """
    v = F.col(vec_col).cast("array<double>")
    exploded = emb.where(unit(v).isNotNull()).select(F.posexplode(v).alias("_pos", "_v"))
    cent = (
        exploded.groupBy("_pos")
        .agg(F.avg("_v").alias("_c"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_c"))),
                lambda s: s["_c"],
            ).alias("_cent")
        )
    )
    # alias the interpreted-HOF cosine into an attribute FIRST:
    # portable_round references its input twice, and Catalyst will not
    # collapse a non-cheap multiply-referenced alias back inline — without
    # this the dim-length fold would evaluate twice per row
    scored = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            F.col(id_col),
            F.when(unit(v).isNotNull(), cosine(v, F.col("_cent"))).alias("_cos"),
        )
        .select(
            F.col(id_col),
            portable_round(F.col("_cos"), decimals).alias("centroid_cos"),
        )
    )
    return scored.orderBy(F.col("centroid_cos").asc(), F.col(id_col).asc()).limit(k)


def pool_embeddings(
    emb: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    *,
    how: str = "mean",
    decimals: int = 6,
) -> DataFrame:
    """Per-group pooled embedding in long form: ``(group, pos, val)``.

    Mean/max pooling over a group's vectors — class prototypes, document
    embeddings from chunk embeddings, topic centroids for hand-off to the
    IVF/topic ops.  Long (one row per dimension) rather than an array
    column so downstream joins stay columnar and external engines can
    replay it row-for-row.

    ONE shuffle keyed on ``(group, dim)`` with map-side combine — shuffle
    width is |groups|×dims rows regardless of corpus size.  Mean values are
    rounded to ``decimals`` (float sum order); max pooling is order-free
    and exact.
    """
    aggs = {"mean": F.avg, "max": F.max}
    if how not in aggs:
        raise ValueError(f"how must be one of {sorted(aggs)}, got {how!r}")
    exploded = emb.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "_v"),
    )
    out = exploded.groupBy(group_col, "pos").agg(aggs[how]("_v").alias("_val"))
    val = portable_round(F.col("_val"), decimals) if how == "mean" else F.col("_val")
    return out.select(group_col, "pos", val.alias("val"))


def fit_scalar_quantizer(
    df: DataFrame, vec_col: str, *, dim: int | None = None
) -> tuple[list[float], list[float]]:
    """Per-dimension (mins, maxs) for scalar quantization — ONE agg pass.

    2·dim aggregate expressions over ``element_at`` (no explode, no
    shuffle beyond the single global agg); the collected result is
    2·dim doubles — a bounded plan-build action in the same sanctioned
    regime as ``kmeans_centroids`` / ``approxQuantile``, never O(rows).
    NaN and ±inf elements are left out of the range: Spark orders NaN
    above every number, so one NaN would otherwise be its dimension's max.
    """
    d = dim or infer_dim(df, vec_col)
    v = F.col(vec_col)
    # try_element_at instead of ANSI element_at so the short-vector count
    # below owns the error (descriptive, names the row count) — but the
    # check must be LOUD per-corpus, not skipped per-row: min/max silently
    # ignoring a truncated vector would fit the quantizer to corrupt data.
    aggs = [
        F.sum(
            (F.coalesce(F.size(v), F.lit(-1)) < d).cast("bigint")
        ).alias("_short")
    ]
    for i in range(d):
        x = F.try_element_at(v, F.lit(i + 1))
        finite = F.when(F.abs(x) < F.lit(float("inf")), x)  # NaN < inf is false
        aggs.append(F.min(finite).alias(f"_mn{i}"))
        aggs.append(F.max(finite).alias(f"_mx{i}"))
    row = df.agg(*aggs).collect()[0]
    if row["_short"]:
        raise ValueError(
            f"fit_scalar_quantizer: {row['_short']} row(s) have a null "
            f"vector or fewer than dim={d} elements — clean the corpus or "
            f"pass the true dim"
        )
    bad = [i for i in range(d) if row[f"_mn{i}"] is None or row[f"_mx{i}"] is None]
    if bad:
        raise ValueError(
            f"fit_scalar_quantizer: no non-null values (NaN and ±inf aside) for "
            f"dimension(s) {bad[:5]}{'...' if len(bad) > 5 else ''} of {d} — empty "
            f"corpus or all-null column"
        )
    mins = [float(row[f"_mn{i}"]) for i in range(d)]
    maxs = [float(row[f"_mx{i}"]) for i in range(d)]
    return mins, maxs


def _quant_params(mins, maxs, bits):
    levels = (1 << bits) - 1
    scales = [
        (levels / (mx - mn)) if mx > mn else 0.0 for mn, mx in zip(mins, maxs)
    ]
    invs = [
        ((mx - mn) / levels) if mx > mn else 0.0 for mn, mx in zip(mins, maxs)
    ]
    return levels, scales, invs


def quantize_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    mins: list[float],
    maxs: list[float],
    *,
    bits: int = 8,
) -> DataFrame:
    """Scalar-quantize vectors to ``bits``-bit codes: ``(id, codes)``.

    ``code_i = clamp(floor((x_i − min_i)·scale_i + 0.5), 0, 2^bits−1)``
    — floor(+0.5) instead of round() because banker's-rounding conventions
    differ across engines while floor is universal.  At 8 bits this cuts
    an embedding store 4× (int8 codes vs float32) with the (mins, maxs)
    codebook as 2·dim floats of metadata — the standard first rung of the
    ANN memory ladder (IVF cells + scalar codes).  Constant-dimension
    degenerate dims (max = min) encode 0 and decode to the constant.

    Row-local ``zip_with`` transforms against literal codebook arrays —
    codegen, no shuffle, no UDF; fully replayable by the oracle because
    the codebook is inlined as literals.
    """
    levels, scales, _ = _quant_params(mins, maxs, bits)
    m_arr = F.array(*[F.lit(m) for m in mins])
    s_arr = F.array(*[F.lit(s) for s in scales])
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"), m_arr, lambda x, m: x - m
    )
    codes = F.zip_with(
        centered,
        s_arr,
        lambda d, s: F.least(
            F.greatest(F.floor(d * s + 0.5).cast("int"), F.lit(0)),
            F.lit(levels),
        ),
    )
    return df.select(F.col(id_col), codes.alias("codes"))


def quantization_fidelity(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    mins: list[float],
    maxs: list[float],
    *,
    bits: int = 8,
    decimals: int = 6,
) -> DataFrame:
    """Reconstruction cosine per vector: ``(id, recon_cos)``.

    Encodes, decodes (``min_i + code_i·inv_i``), and scores the
    dequantized vector against the original — the per-item fidelity
    audit run before committing a corpus to quantized storage.  Zero
    vectors emit null (no direction to preserve).
    """
    levels, scales, invs = _quant_params(mins, maxs, bits)
    m_arr = F.array(*[F.lit(m) for m in mins])
    i_arr = F.array(*[F.lit(i) for i in invs])
    codes = quantize_embeddings(df, id_col, vec_col, mins, maxs, bits=bits)
    joined = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    ).join(codes, id_col)
    deq = F.zip_with(
        F.zip_with(F.col("codes"), i_arr, lambda c, i: c * i),
        m_arr,
        lambda d, m: d + m,
    )
    withd = joined.select(F.col(id_col), F.col("_v"), deq.alias("_d"))
    num = dot(F.col("_v"), F.col("_d"))
    den = l2_norm(F.col("_v")) * l2_norm(F.col("_d"))
    # attribute-alias each interpreted fold BEFORE any multi-reference:
    # `den` is referenced by both the guard and the value (CaseWhen branch
    # values sit outside codegen subexpression elimination), and the
    # rounded ratio is referenced twice by portable_round — same
    # discipline as centroid_outliers
    return (
        withd.select(F.col(id_col), num.alias("_num"), den.alias("_den"))
        .select(
            F.col(id_col),
            F.when(F.col("_den") > 0, F.col("_num") / F.col("_den")).alias("_rc"),
        )
        .select(
            F.col(id_col),
            portable_round(F.col("_rc"), decimals).alias("recon_cos"),
        )
    )
