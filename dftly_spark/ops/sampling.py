"""Deterministic splits and samples for training-data pipelines.

Train/val/test assignment and per-stratum downsampling must be (a) stable
across reruns and cluster sizes, (b) reproducible from the row's identity
alone — never ``rand()``, whose values depend on partitioning and retries.
Both ops here key off an integer id through a fixed LCG mix, so membership
is a pure row-local expression: no shuffle, no state, trivially pushed into
scans, and exactly reproducible in any engine (the mixer is plain modular
arithmetic, which is how the driver's DuckDB oracles replay it bit-for-bit
— a cryptographic hash would be Spark-only).

The mix is an LCG step (glibc constants) over a 2³¹ modulus: uniform enough
for percentage gates on ids with any distribution, and overflow-free for
``|id| < 2⁶³ / 1103515245 ≈ 8.4e9``.  For adversarial or string ids, hash
to an id first (``xxhash64``) and accept engine-specific membership.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_A, _C, _M = 1103515245, 12345, 2**31


def _mix(id_col: Column, seed: int, *, lenient: bool = False) -> Column:
    # cast (default): a non-castable id FAILS LOUDLY under ANSI — right for
    # split/sample membership, where dropping a row would skew fractions.
    # try_cast (lenient): null order key, for ops whose documented policy
    # is to EXCLUDE non-castable ids up front (token_budget_sample).
    i = id_col.try_cast("bigint") if lenient else id_col.cast("bigint")
    return F.pmod(i * _A + (_C + seed), F.lit(_M))


def hash_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    *,
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split with the given fractions.

    ``fractions`` must sum to 1 (e.g. ``{"train": .9, "val": .05,
    "test": .05}``).  Assignment is ``mix(id) / 2³¹`` against cumulative
    integer thresholds — deterministic, partition-independent, and
    disjoint+exhaustive by construction.
    """
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    u = _mix(F.col(id_col), seed)
    cum = 0.0
    expr = None
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        cond = u < int(cum * _M)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out_col, expr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    id_col: str,
    *,
    default_rate: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows (corpus mixing).

    ``rates`` maps stratum value → keep-fraction; unlisted strata use
    ``default_rate``.  A row survives iff ``mix(id) < rate·2³¹`` — so a
    stratum's sample is NESTED across rates (the 10% sample is a subset of
    the 20% one), which is what you want when re-mixing data: raising a
    source's rate only adds documents.
    """
    for v in list(rates.values()) + [default_rate]:
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"rates must be in [0, 1], got {v}")
    u = _mix(F.col(id_col), seed)
    thresh = None
    for value, rate in rates.items():
        cond = F.col(strata_col) == value
        t = F.lit(int(rate * _M))
        thresh = F.when(cond, t) if thresh is None else thresh.when(cond, t)
    thresh = (
        F.lit(int(default_rate * _M))
        if thresh is None
        else thresh.otherwise(int(default_rate * _M))
    )
    return df.where(u < thresh)


def mixture_sample(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    *,
    budget: float,
    cost_col: str,
    id_col: str,
    seed: int = 0,
    rate_col: str = "mix_rate",
) -> DataFrame:
    """Downsample each source to hit a token/byte budget with given weights.

    The mixing recipe "train on ``budget`` tokens, ``weights[g]`` of them
    from source ``g``" becomes a per-source keep-rate
    ``min(1, budget·weight_g / Σ cost_col over g)`` — measured from the
    data, not guessed — and membership is the same row-local LCG gate as
    :func:`stratified_sample` (nested samples, rerun-stable).  Sources not
    in ``weights`` are dropped.

    Scale shape: ONE map-side-combined aggregation producing |sources|
    rows of totals, broadcast back onto the scan, then a pushable row-local
    filter.  The big table is never shuffled.  A source whose corpus is
    smaller than its target keeps everything (rate capped at 1) — the
    shortfall is visible in ``rate_col`` so the caller can re-weight.
    """
    if not weights:
        raise ValueError("mixture_sample needs at least one source weight")
    totals = (
        df.where(F.col(group_col).isin(list(weights)))
        .groupBy(group_col)
        .agg(F.sum(F.col(cost_col)).alias("_total_cost"))
    )
    wexpr = None
    for value, wt in weights.items():
        cond = F.col(group_col) == value
        wexpr = F.when(cond, wt) if wexpr is None else wexpr.when(cond, wt)
    rate = F.least(
        F.lit(1.0), wexpr * budget / F.col("_total_cost").cast("double")
    )
    u = _mix(F.col(id_col), seed)
    return (
        df.join(F.broadcast(totals), group_col)
        .withColumn(rate_col, rate)
        .where(u.cast("double") < F.col(rate_col) * _M)
        .drop("_total_cost")
    )


def mix_sql(id_expr: str, seed: int = 0) -> str:
    """The mixer as ANSI SQL, for oracle parity: ``mix_sql('doc_id')``."""
    return f"(({id_expr} * {_A} + {_C + seed}) % {_M})"


def cap_per_group(
    df: DataFrame,
    group_col: str,
    *,
    k: int,
    order_col: str,
    ascending: bool = True,
    presalt: int | None = None,
) -> DataFrame:
    """Keep at most ``k`` rows per group, deterministically.

    The per-domain / per-source cap every web-corpus recipe applies (a
    handful of hosts otherwise dominate the token budget): rows are ranked
    within ``group_col`` by ``order_col`` (ties by the order column only —
    pass a unique column such as the id, or a (priority, id) struct column,
    for full determinism) and rows ranked > ``k`` are dropped.  The input
    schema passes through unchanged.

    One keyed window shuffle.  For pathological groups (a single host with
    10⁹ rows), ``presalt=S`` adds a sound two-phase pre-cap: rows are first
    capped at ``k`` within each of ``S`` hash-salted sub-groups (keeping
    ≤ ``S·k`` per group — a superset of the true top-k, since the true
    top-k's members rank ≤ k in any sub-group they land in), then the exact
    cap runs on the survivors; the heavy group's full row set never
    converges on one reducer.
    """
    from pyspark.sql import Window

    order = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    if presalt is not None:
        salt = F.pmod(F.xxhash64(F.col(order_col)), F.lit(presalt))
        w_pre = Window.partitionBy(F.col(group_col), salt).orderBy(order)
        df = (
            df.withColumn("__pre", F.row_number().over(w_pre))
            .where(F.col("__pre") <= k)
            .drop("__pre")
        )
    w = Window.partitionBy(group_col).orderBy(order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    len_col: str,
    *,
    context_len: int = 2048,
    shards: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Concat-and-chunk sequence packing: map documents onto fixed-length
    training windows.

    The standard LM-pretraining packing: within a shard, documents are laid
    end-to-end in a deterministic order and the token stream is cut every
    ``context_len`` tokens (documents may span chunk boundaries).  Returns
    one row per (document × chunk it overlaps): ``(shard, chunk_id,``
    ``id_col, doc_offset, chunk_offset, n_tokens)`` — everything a loader
    needs to materialize chunk tensors.

    Scale shape: rows shuffle ONCE on the shard key (``shards`` bounds
    partition size — size it so a shard's docs fit an executor), one window
    cumsum per shard, then a per-doc explode over the chunks it touches
    (O(doc_len / context_len) rows each).  Offsets are closed-form integer
    arithmetic: no iterative packing state, exactly reproducible anywhere.
    """
    shard = F.pmod(_mix(F.col(id_col), seed), F.lit(shards))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    L = F.lit(context_len)
    base = (
        df.select(F.col(id_col), F.col(len_col).cast("bigint").alias("__len"), shard.alias("shard"))
        .where(F.col("__len") > 0)
        .withColumn("__end", F.sum("__len").over(w))
        .withColumn("__start", F.col("__end") - F.col("__len"))
    )
    spans = base.withColumn(
        "chunk_id",
        F.explode(
            F.sequence(F.floor(F.col("__start") / L), F.floor((F.col("__end") - 1) / L))
        ),
    )
    chunk_start = F.col("chunk_id") * L
    begin = F.greatest(F.col("__start"), chunk_start)
    end = F.least(F.col("__end"), chunk_start + L)
    return spans.select(
        "shard",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.col(id_col),
        (begin - F.col("__start")).alias("doc_offset"),
        (begin - chunk_start).alias("chunk_offset"),
        (end - begin).alias("n_tokens"),
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    *,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """Weighted sample WITHOUT replacement of ``k`` rows per group.

    Efraimidis–Spirakis A-ES: each row draws ``u ∈ (0,1)`` from its id
    through the deterministic LCG mixer (never ``rand()`` — reruns, retries
    and repartitions all see the same sample) and the ``k`` smallest
    ``-ln(u) / w`` win; a row's win probability is proportional to its
    weight.  Non-positive or null weights never win (their key is +inf).

    The exponential key is ONE window rank per group — the same single
    keyed Exchange as :func:`cap_per_group`, so the ``presalt`` trick there
    applies when one group is pathological.  The key is ordering-only and
    never emitted: cross-engine ``ln`` differs in the last ulp, but two
    distinct draws are never within an ulp of each other, so the SELECTED
    SET is engine-exact even though the float key is not.
    """
    from pyspark.sql import Window

    u = (_mix(F.col(id_col), seed) + F.lit(1)).cast("double") / F.lit(
        float(_M + 1)
    )
    wcol = F.col(weight_col).cast("double")
    es_key = F.when(wcol > 0, -F.log(u) / wcol).otherwise(
        F.lit(float("inf"))
    )
    w = Window.partitionBy(group_col).orderBy(
        es_key.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__esr", F.row_number().over(w))
        .where(F.col("__esr") <= k)
        .drop("__esr")
    )


def token_budget_sample(
    df: DataFrame,
    group_col: str,
    budget,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
    seed: int = 0,
    buckets: int = 32,
) -> DataFrame:
    """Per-group documents in deterministic shuffled order until a TOKEN
    budget is reached (the mixture-construction primitive: "2 B tokens of
    src_a, 500 M of src_b, ...").

    Sampling by document count over-represents short documents; pretraining
    mixtures are specified in tokens.  Each group's rows are ordered by the
    module's LCG mix of ``id_col`` (reproducible across reruns, retries,
    partitionings, and engines — never ``rand()``), token counts are
    cumulated in that order, and a document is kept while the tokens BEFORE
    it are under the group's budget — so the budget-crossing document is
    included and every kept group reaches >= budget when it has the tokens.

    ``budget`` is one int for all groups or a ``{group: budget}`` mapping
    (groups absent from the mapping are pre-filtered out before any work —
    a mixture spec is exhaustive).  Token counts come from ``n_tokens_col``
    when the corpus already carries them, else
    :func:`~dftly_spark.ops.textops.token_count` over ``text_col``.

    Rows that cannot participate in a deterministic token fill are
    EXCLUDED up front, matching :func:`hash_split`'s null-gate convention.
    The gate is on the COMPUTED order key, not the raw id: ``_ord`` is null
    exactly when ``id_col`` is null OR not castable to bigint (a
    non-numeric string id), so both cases are one documented exclusion
    rather than a silent null-key drop in the offset join downstream.
    Also excluded: null ``group_col`` (no budget can name the null group —
    the dict form already drops it via the ``isin`` pre-filter; the int
    form excludes it here for the same explicit reason), and null or
    negative token counts (null text has no tokens; a negative count would
    shrink the running sum and over-fill past the crossing doc).  If the
    corpus's ids are strings, hash them to an integer id first (the module
    convention, see the header) — a corpus whose every id fails the cast
    comes back empty by this rule, not by accident.

    Scale shape: the running sum is the two-level scan of
    ``scale.partitioned_cumsum``, specialized: the LCG order key is uniform
    on [0, 2**31) BY CONSTRUCTION, so bucket boundaries are fixed
    arithmetic ranges — no approxQuantile job, nothing runs at plan-build
    time.  Local sums window over ``(group, bucket)``; bucket totals are a
    map-side-combined aggregate on a SECOND, column-pruned branch of the
    source (tiny output: ``groups x buckets`` rows, broadcast for the
    offset join).  Two pruned scans beat the alternatives at corpus scale
    — caching the corpus or joining kept ids back over the full width
    would shuffle/materialize far more than a narrow re-read — but the
    totals branch re-tokenizes when counts come from ``text_col``, so at
    real corpus scale pass ``n_tokens_col`` (precomputed counts) and the
    second scan prunes to three thin columns.  No single-reducer window
    per group, so one giant source cannot serialize (the x126/x96 shape).
    Appends ``n_tokens`` and ``cum_tokens`` (running total INCLUDING the
    row, in sample order).
    """
    from pyspark.sql import Window

    from .textops import token_count

    for reserved in ("n_tokens", "cum_tokens", "_ord", "_pid", "_loc", "_off"):
        if reserved in df.columns and not (
            reserved == "n_tokens" and n_tokens_col == "n_tokens"
        ):
            raise ValueError(
                f"token_budget_sample appends {reserved!r} but the input "
                f"already has that column; rename it first (or, for "
                f"'n_tokens', pass n_tokens_col='n_tokens' to reuse it)"
            )
    if isinstance(budget, dict):
        if not budget:
            raise ValueError("token_budget_sample: empty budget mapping")
        # explicit pre-filter: unbudgeted groups never shuffle or tokenize
        df = df.where(F.col(group_col).isin(list(budget)))
        pairs = []
        for g, b in budget.items():
            pairs.extend([F.lit(g), F.lit(int(b))])
        bud = F.element_at(F.create_map(*pairs), F.col(group_col))
    else:
        bud = F.lit(int(budget))

    ordk = _mix(F.col(id_col), seed, lenient=True)
    width = _M // buckets + 1
    ntok = (
        F.col(n_tokens_col).cast("bigint")
        if n_tokens_col
        else token_count(F.col(text_col))
    )
    # withColumn unifies the reuse and append cases: it replaces an
    # existing n_tokens in place (the n_tokens_col == "n_tokens" opt-in)
    # and appends otherwise
    base = df.select(
        "*",
        ordk.alias("_ord"),
        F.floor(ordk / F.lit(width)).cast("int").alias("_pid"),
    ).withColumn("n_tokens", ntok)
    # explicit exclusion gate (see docstring): _ord.isNotNull() covers both
    # null and non-bigint-castable ids; the group gate makes the int-budget
    # case's null-group behavior a rule, not a join artifact
    base = base.where(
        F.col("_ord").isNotNull()
        & F.col(group_col).isNotNull()
        & (F.col("n_tokens") >= 0)
    )
    w_local = (
        Window.partitionBy(group_col, "_pid")
        .orderBy("_ord", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.select("*", F.sum("n_tokens").over(w_local).alias("_loc"))
    totals = base.groupBy(group_col, "_pid").agg(F.sum("n_tokens").alias("_tot"))
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        group_col,
        "_pid",
        F.coalesce(F.sum("_tot").over(w_off), F.lit(0)).alias("_off"),
    )
    cum = local.join(F.broadcast(offsets), [group_col, "_pid"]).withColumn(
        "cum_tokens", (F.col("_loc") + F.col("_off")).cast("bigint")
    )
    kept = cum.where((F.col("cum_tokens") - F.col("n_tokens")) < bud)
    return kept.drop("_ord", "_pid", "_loc", "_off")


def mixture_kl(
    df: DataFrame,
    group_col: str,
    target: dict[str, float],
    *,
    weight_col: str | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Per-group mixture-drift report against a target distribution.

    The monitoring twin of :func:`mixture_sample` / ``doremi_weights``:
    given the intended mixture ``target`` (``{group: weight}``, summing
    to ~1), measure what the corpus ACTUALLY contains and report, per
    group, ``(n_rows, mass, observed, target, kl_term)`` plus the
    diagnostics a re-balance decision needs — ``kl_term`` is the group's
    contribution ``p·ln(p/q)`` to ``KL(observed ‖ target)``, so the
    total divergence is ``sum(kl_term)`` and the worst-drifted groups
    are the largest terms.  ``mass`` weights rows by ``weight_col``
    (token counts — mixtures are specified in tokens) when given, else
    each row counts 1.

    Groups absent from ``target`` are EXCLUDED (a mixture spec is
    exhaustive — same rule as :func:`mixture_sample`); a target group
    with no observed rows yields no output row, and its mass is simply
    missing from the sum (KL with a true zero would be 0·ln 0 = 0
    anyway).  Null groups and null/negative masses are excluded for the
    reasons documented on :func:`token_budget_sample`.  A target group
    whose observed rows all carry ZERO mass (rows exist, every
    ``weight_col`` value is 0) appears with ``observed = 0`` and
    ``kl_term = 0`` — the ``0·ln 0 = 0`` limit is applied explicitly
    rather than letting ``log(0)``'s null silently drop the term from
    ``sum(kl_term)``.

    Cross-engine floats: observed shares are exact ``mass/total``
    ratios; the ``ln`` in ``kl_term`` is quantized on the floor-scale
    grid (``decimals``) like every transcendental in this repo.

    Scale shape: ONE map-side-combined keyed aggregation to a
    ``|target|``-row table; the total attaches as a 1-row broadcast
    scalar.  The corpus is never shuffled.
    """
    from ..sqlgen import portable_round

    if not target:
        raise ValueError("mixture_kl needs at least one target weight")
    mass = (
        F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    )
    pairs = []
    for g, w in target.items():
        if w <= 0:
            raise ValueError(f"target weight for {g!r} must be > 0, got {w}")
        pairs.extend([F.lit(g), F.lit(float(w))])
    tgt = F.element_at(F.create_map(*pairs), F.col(group_col))
    base = df.where(
        F.col(group_col).isin(list(target))
        & mass.isNotNull()
        & (mass >= 0)
    )
    grp = base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(mass).alias("mass"),
        F.first(tgt).alias("target"),
    )
    totals = grp.agg(F.sum("mass").alias("_T"))
    p = F.col("mass") / F.col("_T")
    return grp.crossJoin(F.broadcast(totals)).select(
        group_col,
        "n_rows",
        "mass",
        p.alias("observed"),
        "target",
        # 0·ln 0 = 0 limit applied explicitly: Spark's log(0) is null, and
        # a null kl_term would silently vanish from sum(kl_term) (or read
        # as null in strict consumers) instead of contributing 0.
        F.when(
            p > 0,
            portable_round(p * F.log(p / F.col("target")), decimals),
        )
        .otherwise(F.lit(0.0))
        .alias("kl_term"),
    )


def alpha_sampling(
    df: DataFrame,
    group_col: str,
    *,
    alpha: float = 0.3,
    weight_col: str | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Temperature-based (α) multilingual sampling weights — the mT5/XLM-R
    recipe (Xue et al. 2021 §3.2; Conneau et al. 2020): sample group
    ``l`` with probability ``q_l ∝ p_l^α`` where ``p_l`` is the group's
    natural share of the corpus.  ``α = 1`` reproduces the natural
    distribution, ``α = 0`` is uniform, and the usual ``α ≈ 0.3`` boosts
    low-resource groups without flattening the head.  The sampling twin
    of :func:`mixture_kl` (which monitors drift against such a target)
    and the heuristic cousin of ``doremi_weights`` (which learns the
    target from proxy losses).

    Per group: ``(n_rows, mass, share, weight, boost)`` — ``mass``
    weights rows by ``weight_col`` (token counts) when given, else each
    row counts 1; ``share = mass/total`` (exact ratio); ``weight`` is
    the normalized ``share^α``; ``boost = weight/share`` is the repeat
    factor the group's data sees under the mixture (> 1 = upsampled).
    Null groups and null/negative masses are excluded; groups whose
    total mass is zero are excluded too (a zero-mass group has no data
    to sample — and ``0^0 = 1`` at ``α = 0`` would fabricate weight for
    it).  Weights sum to 1 up to the rounding grid.

    Cross-engine floats: ``pow`` is a transcendental, so ``share^α`` is
    quantized on the floor-scale grid (``decimals``) BEFORE the
    normalizer sum — the same two-stage convention as
    ``doremi_weights``'s softmax.

    Scale shape: ONE map-side-combined keyed aggregation to a K-row
    group table; the normalizers attach as 1-row broadcasts.  The
    corpus is never shuffled.
    """
    from ..sqlgen import portable_round

    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    mass = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    base = df.where(
        F.col(group_col).isNotNull() & mass.isNotNull() & (mass >= 0)
    )
    grp = base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum(mass).alias("mass")
    ).where(F.col("mass") > 0)
    tot = grp.agg(F.sum("mass").alias("_T"))
    share = F.col("mass") / F.col("_T")
    powered = grp.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n_rows",
        "mass",
        share.alias("share"),
        portable_round(
            F.pow(share, F.lit(float(alpha))), decimals
        ).alias("_e"),
    )
    z = powered.agg(F.sum("_e").alias("_Z"))
    w = F.col("_e") / F.col("_Z")
    return powered.crossJoin(F.broadcast(z)).select(
        group_col,
        "n_rows",
        "mass",
        "share",
        portable_round(w, decimals).alias("weight"),
        portable_round(w / F.col("share"), decimals).alias("boost"),
    )


def cluster_balanced_sample(
    emb: DataFrame,
    *,
    n_cells: int = 16,
    cap: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 2,
    kmeans_init: str = "sample",
    seed: int = 42,
) -> DataFrame:
    """Diversity-preserving subset: k-means cells + a per-cell cap.

    The cluster-balanced selection step of SemDeDup-style pipelines
    (Abbas et al. 2023) and density-aware pruning (Sorscher et al. 2022
    "Beyond neural scaling laws"): embed-space clusters stand in for
    topics/modes, and capping each cell keeps the tail modes that a
    uniform sample would starve while shaving the over-dense head.
    Returns ``(id, cell, cell_rank)`` for the kept rows — semi-join it
    back against the corpus to materialize the subset.

    Within a cell, survivors are the first ``cap`` rows in the seeded
    LCG order on the id (the module's engine-replayable shuffle — see
    the header; never ``rand()``), so the subset is reproducible from
    row identity alone and an external engine can replay the exact
    selection.

    Scale shape: the centroid fit is :func:`~dftly_spark.ops.similarity.choose_centroid_frame`
    (cluster-side Lloyd: one executor task up to its row gate, checkpointed
    rounds above it — the k×dim matrix never touches the driver or the
    plan text; it attaches to the scan as a checkpointed 1-row
    broadcast); assignment is one broadcast-matrix argmax scan
    (``assign_cells``, whose scorer follows ``n_cells``); the cap is one window keyed on ``(cell)`` over
    ≤ corpus rows — the same single-shuffle shape as ``cap_per_group``.
    For pathological cell skew, pre-salt with ``cap_per_group`` on the
    assigned frame instead.
    """
    from pyspark.sql import Window

    from .similarity import topic_assign

    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    assigned = topic_assign(
        emb,
        id_col=id_col,
        vec_col=vec_col,
        n_topics=n_cells,
        strategy="kmeans",
        seed=seed,
        kmeans_iters=kmeans_iters,
        kmeans_init=kmeans_init,
    ).select(F.col(id_col), F.col("topic").cast("int").alias("cell"))
    w = Window.partitionBy("cell").orderBy(
        _mix(F.col(id_col), seed), F.col(id_col)
    )
    return (
        assigned.withColumn("cell_rank", F.row_number().over(w))
        .where(F.col("cell_rank") <= cap)
    )
