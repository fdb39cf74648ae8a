"""Fuzzy entity-resolution join: exact set-similarity join across two tables.

The missing shape between the one-corpus pair generators (minhash / simhash /
ngram_jaccard — self-join style) and the probabilistic cross-corpus ops
(``cross_corpus_dup_pairs``): join TWO arbitrary tables on a string column by
token-set Jaccard with an EXACT threshold guarantee — every qualifying pair
is returned (recall 1 by construction, not by LSH luck), the classic
entity-resolution / record-linkage primitive.

The scale path is **prefix filtering** (the AllPairs / PPJoin family —
Bayardo et al. WWW'07, Xiao et al. WWW'08, Vernica et al. SIGMOD'10 for the
MapReduce formulation; all public):

* For Jaccard ``J(A,B) >= t``, the overlap obeys ``|A ∩ B| >= ceil(t·|A|)``
  (and symmetrically for B): ``i >= t(a+b-i)`` gives ``i >= t·a`` since
  ``b >= i``.
* Under ANY global total order on tokens, if ``|A ∩ B| >= α`` then the first
  ``|A|-α+1`` tokens of A and the first ``|B|-α+1`` tokens of B must share
  an element (pigeonhole).  So indexing only each set's PREFIX — a
  ``(1-t)`` fraction of its tokens — finds every qualifying pair.
* Candidates from the prefix equi-join are verified with the exact set
  intersection, so an over-long prefix only costs work, never correctness.

100 TB design:

* Sets live as EXPLODED ``(id, shingle-hash)`` rows, never as per-row
  arrays: the token explode + ``lead()`` window + ``xxhash64`` path
  (:func:`~dftly_spark.ops.dedup._shingle_instance_frames`, shared with
  minhash) stays in whole-stage codegen, while array higher-order
  functions evaluate interpreted (~13 µs/shingle measured in this repo —
  the array formulation of this op benched 6× slower end-to-end).
* The DEFAULT global token order is **xxhash64 order** — needs no corpus
  statistics and decorrelates from token frequency, so stop-word-ish
  tokens don't systematically land in every prefix (lexicographic order
  would put the same hot tokens first for every row).
  ``token_order="df"`` switches to the classical refinement — ascending
  document-frequency order (ties broken by hash, still total), which
  puts each set's RAREST tokens in its prefix and provably minimizes
  candidate count (Bayardo et al. §3.1).  It costs one extra
  distinct-doc count aggregate over the union of both sides plus one
  hash join per side — worth it on skewed vocabularies; measured 1.9×
  candidate reduction on the gate corpus (SCALING.md round 10).
  :func:`fuzzy_index` stays hash-ordered by design: the streaming match
  side (:func:`dftly_spark.streaming.stream_fuzzy_join`) computes its
  prefix ROW-LOCALLY with ``array_sort``, which a corpus-statistics
  order cannot do without shipping the df table into every micro-batch.
* Prefix membership is a ``row_number``/``count`` window pair over the
  per-id partition (one keyed shuffle per side, reused by the size
  aggregate); join keys are the 8-byte hashes.
* Verification is the V-SMART count-aggregation: candidates re-join each
  side's shingle rows on ``(id, hash)`` and the shared-gram count feeds
  ``jaccard = s / (|A| + |B| - s)`` — all equi-joins + one keyed groupBy,
  no Python on data, no cartesian product, no array ops.
* A 64-bit shingle-hash collision could overstate one intersection by 1 —
  the same negligible-and-deterministic tradeoff every hash-shingle op in
  this package makes.
* ``best_match`` resolves each left entity to its single best right match
  with a keyed window (jaccard desc, id asc tie-break) — one extra
  shuffle on ``id_l``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from .scale import durable_checkpoint

from .dedup import _shingle_instance_frames

__all__ = ["fuzzy_join", "fuzzy_index"]


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    id_col_l: str,
    text_col_l: str,
    id_col_r: str | None = None,
    text_col_r: str | None = None,
    *,
    n: int = 3,
    threshold: float = 0.5,
    best_match: bool = False,
    token_order: str = "hash",
    tokens_col_l: str | None = None,
    tokens_col_r: str | None = None,
    max_prefix_df: int | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """All (or best) cross-table pairs with token-set Jaccard >= threshold.

    Tokens are distinct lowercased word ``n``-grams (``n=1`` → plain words,
    the entity-name case; ``n=3`` → document near-dup case).  Returns
    ``(id_l, id_r, jaccard)`` — every pair meeting the threshold (exact
    recall via prefix filtering), or with ``best_match=True`` only each
    left row's best match (highest jaccard, lowest ``id_r`` tie-break).

    ``threshold`` must be in (0, 1]: at 0 the result is the cross product
    (prefix filtering degenerates to indexing every token).

    ``token_order`` picks the global total order driving prefix
    selection: ``"hash"`` (default, corpus-stat-free) or ``"df"``
    (ascending document frequency — the classical candidate-minimizing
    order; one extra count aggregate + join per side, see module
    docstring).  The returned PAIR SET is identical either way — prefix
    filtering is lossless under ANY total order; only candidate volume
    changes.

    ``tokens_col_*`` name a precomputed token-array column on each side
    (:func:`~dftly_spark.ops.tokenized_docs`) like every other text op.

    ``max_prefix_df`` is the HOT-TOKEN skew lever.  Boilerplate shingles
    (shared headers, license blocks, stopword-ish grams) can land in many
    sets' prefixes; each such gram is one join key whose candidate rows —
    up to (left postings × right postings) — land on ONE reducer of the
    prefix equi-join.  With ``max_prefix_df=K``, grams whose combined
    prefix-posting count exceeds ``K`` are rerouted through a SALTED join:
    the left postings take a deterministic salt
    (``xxhash64(id) % salt_buckets``) and the right postings replicate
    across all ``salt_buckets``, so each hot gram's candidate work spreads
    over ``salt_buckets`` reducers.  The returned pair set is IDENTICAL —
    every (l, r) posting combination still meets exactly once (at l's
    salt), and the length/positional filters and exact verify are
    unchanged; only the shuffle layout of the hot keys changes (cost: the
    hot-side right postings replicate ``salt_buckets``×, which is why the
    reroute is gated on a threshold instead of always on).  This
    complements ``token_order="df"`` (which keeps hot grams OUT of
    prefixes where the order allows) and AQE skew splitting (which can
    only split a key's rows, not a single key's join fan-out).

    Production recipe (measured — SCALING.md Zipf growth probe, round
    13): under a Zipf token distribution the hash order's candidate
    volume grows ~quadratically with corpus size (×58 at 8× growth)
    while ``token_order="df"`` holds it exactly linear (×8 at 8×,
    tracking the true pair count); pair sets are identical.  At 100 TB
    pass ``token_order="df"`` with ``max_prefix_df`` as the
    shuffle-layout insurance for residual hot keys.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if token_order not in ("hash", "df"):
        raise ValueError(f"token_order must be 'hash' or 'df', got {token_order!r}")
    id_col_r = id_col_r if id_col_r is not None else id_col_l
    text_col_r = text_col_r if text_col_r is not None else text_col_l

    # Each side's shingle frame is consumed THREE times (prefix postings,
    # the verify join, the size aggregate) — truncate lineage at the
    # boundary or the tokenize+explode+window stage re-executes per
    # reference (the repo-wide multi-reference discipline; lazy, so
    # nothing materializes before the first action).
    sh_l = _shingle_rows(
        left, id_col_l, text_col_l, "id_l", n,
        tokens_col=tokens_col_l,
    ).transform(durable_checkpoint, eager=False)
    sh_r = _shingle_rows(
        right, id_col_r, text_col_r, "id_r", n,
        tokens_col=tokens_col_r,
    ).transform(durable_checkpoint, eager=False)

    if token_order == "df":
        # ascending doc-frequency order: one distinct-doc count over the
        # union of both sides (the sh frames are already per-id distinct),
        # checkpointed because it feeds both sides' prefix windows
        dfc = (
            sh_l.select("_g")
            .unionByName(sh_r.select("_g"))
            .groupBy("_g")
            .agg(F.count(F.lit(1)).alias("_df"))
            .transform(durable_checkpoint, eager=False)
        )
        pl = _prefix_rows(sh_l.join(dfc, "_g"), "id_l", threshold, order=("_df", "_g"))
        pr = _prefix_rows(sh_r.join(dfc, "_g"), "id_r", threshold, order=("_df", "_g"))
    else:
        pl = _prefix_rows(sh_l, "id_l", threshold)
        pr = _prefix_rows(sh_r, "id_r", threshold)
    # Two lossless candidate pruners ride the hash equi-join, cutting the
    # pair volume BEFORE the distinct pays for it:
    # * length filter (AllPairs): J >= t forces t*|A| <= |B| <= |A|/t;
    # * positional filter (PPJoin): overlap >= alpha = ceil(t/(1+t)*(a+b))
    #   and a match at prefix positions (pa, pb) bounds the overlap by
    #   1 + min(a-pa, b-pb).  A valid pair's FIRST shared prefix token
    #   (first in the SAME global order on both sides) always satisfies
    #   the bound, so pruning failing rows never loses a pair — measured
    #   ~2x candidate reduction on the gate corpus.
    if max_prefix_df is None:
        cand = _prefix_cand(pl, pr, threshold).distinct().transform(
            durable_checkpoint, eager=False
        )
    else:
        if salt_buckets < 2:
            raise ValueError(f"salt_buckets must be >= 2, got {salt_buckets}")
        # hot grams = prefix-posting count over BOTH sides above the cap
        # (inner join: a gram absent from either side yields no pairs and
        # needs no reroute); referenced four times — lazy checkpoint
        cl = pl.groupBy("_g").agg(F.count(F.lit(1)).alias("_cl"))
        cr = pr.groupBy("_g").agg(F.count(F.lit(1)).alias("_cr"))
        hot = (
            cl.join(cr, "_g")
            .where(F.col("_cl") + F.col("_cr") > int(max_prefix_df))
            .select("_g")
            .transform(durable_checkpoint, eager=False)
        )
        pl_cold = pl.join(hot, "_g", "left_anti")
        pr_cold = pr.join(hot, "_g", "left_anti")
        # salted reroute: left postings take ONE deterministic salt, right
        # postings replicate across all buckets — every (l, r) combination
        # meets exactly once (at l's salt), so the pair set is unchanged
        # while each hot gram's join key splits `salt_buckets` ways
        pl_hot = pl.join(hot, "_g").withColumn(
            "_salt", F.pmod(F.xxhash64("id_l"), F.lit(salt_buckets)).cast("int")
        )
        pr_hot = pr.join(hot, "_g").withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
        )
        cand = (
            _prefix_cand(pl_cold, pr_cold, threshold)
            .unionByName(
                _prefix_cand(
                    pl_hot, pr_hot, threshold,
                    extra=lambda a, b: a["_salt"] == b["_salt"],
                )
            )
            .distinct()
            .transform(durable_checkpoint, eager=False)
        )

    # V-SMART verify: shared-shingle count per candidate pair (threshold>0
    # implies s >= 1, so the inner joins lose no qualifying pair).  The
    # candidate-times-shingles expansion is the heavy intermediate, so it
    # stays SLIM (ids only — carrying the sizes through it was A/B'd and
    # lost); both exact set sizes already ride the slim candidate frame
    # from the prefix join (`_sz` is the same per-id count the shingle
    # frames would re-aggregate), attached afterwards with ONE pair-keyed
    # join instead of two size aggregates plus two attach joins.
    shared = (
        cand.select("id_l", "id_r")
        .join(sh_l, "id_l")
        .join(sh_r, ["id_r", "_g"])
        .groupBy("id_l", "id_r")
        .agg(F.count(F.lit(1)).alias("_s"))
    )
    # integer-derived division: both engines compute the identical double
    jac = F.col("_s").cast("double") / (F.col("_na") + F.col("_nb") - F.col("_s"))
    out = (
        shared.join(cand, ["id_l", "id_r"])
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_l", "id_r", "jaccard")
    )
    if best_match:
        w = Window.partitionBy("id_l").orderBy(F.desc("jaccard"), F.asc("id_r"))
        out = (
            out.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .drop("_rk")
        )
    return out


def _prefix_cand(pl: DataFrame, pr: DataFrame, threshold: float, extra=None) -> DataFrame:
    """Candidate ``(id_l, id_r)`` pairs from one prefix equi-join carrying
    the two lossless pruners (AllPairs length filter, PPJoin positional
    filter — see :func:`fuzzy_join`); ``extra(pl, pr)`` appends a further
    join predicate (the hot-gram salt equality)."""
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (pl["_sz"] + pr["_sz"]) - F.lit(1e-9)
    )
    cond = (
        (pl["_g"] == pr["_g"])
        & (pr["_sz"] >= F.ceil(F.lit(threshold) * pl["_sz"] - F.lit(1e-9)))
        & (pl["_sz"] >= F.ceil(F.lit(threshold) * pr["_sz"] - F.lit(1e-9)))
        & (F.lit(1) + F.least(pl["_sz"] - pl["_rn"], pr["_sz"] - pr["_rn"]) >= alpha)
    )
    if extra is not None:
        cond = cond & extra(pl, pr)
    # carry both exact set sizes (functionally dependent on the ids, so
    # the downstream distinct is unchanged) — the verify step divides by
    # them directly instead of re-aggregating sizes from the shingle
    # frames and attaching them with two more joins
    return pl.join(pr, cond).select(
        "id_l", "id_r", pl["_sz"].alias("_na"), pr["_sz"].alias("_nb")
    )


def _shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_id: str,
    n: int,
    *,
    tokens_col: str | None = None,
) -> DataFrame:
    """Distinct ``(out_id, _g)`` shingle-hash rows (codegen explode path)."""
    long_inst, short_rows = _shingle_instance_frames(
        df, id_col, text_col, n, tokens_col=tokens_col
    )
    return (
        long_inst.unionByName(short_rows)
        .distinct()
        .select(F.col("_id").alias(out_id), "_g")
    )


def _prefix_rows(
    sh: DataFrame,
    id_out: str,
    threshold: float,
    order: tuple[str, ...] = ("_g",),
) -> DataFrame:
    """The ``(id, _g, _sz, _rn)`` rows in each set's prefix under the
    given global total order — default xxhash64, or ``("_df", "_g")`` for
    the df-ascending refinement (``_rn`` = 1-based position, for the
    positional filter; both sides must pass the SAME order).

    Prefix length ``p = s - ceil(t·s) + 1``; the tiny epsilon inside the
    ceil guards the float product at exact-integer boundaries (a too-SMALL
    ceil only lengthens the prefix — safe; a float-noise too-large ceil
    would shorten it and could drop a qualifying pair).  One window
    exchange computes both the set size and the rank.
    """
    w = Window.partitionBy(id_out)
    rn = F.row_number().over(w.orderBy(*order))
    s = F.count(F.lit(1)).over(w)
    p = s - F.ceil(F.lit(threshold) * s - F.lit(1e-9)).cast("int") + 1
    return (
        sh.withColumn("_sz", s)
        .withColumn("_rn", rn)
        .withColumn("_keep", F.col("_rn") <= p)
        .where(F.col("_keep"))
        .select(id_out, "_g", "_sz", "_rn")
    )


def fuzzy_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    tokens_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable prefix-filter index frames for a corpus.

    Returns ``(prefix, sets)``:

    * ``prefix`` — ``(id, _g, _sz, _rn, _idx_n, _idx_t)``: the corpus
      side's prefix postings under xxhash64 order (one row per indexed
      shingle hash, with the set size for the length filter and the
      prefix position for the positional filter), plus the BUILD
      PARAMETERS as constant columns — ``_idx_n`` (shingle width) and
      ``_idx_t`` (build threshold).  They survive any write/read
      round-trip with the data itself, so consumers can validate instead
      of trusting out-of-band records;
    * ``sets`` — ``(id, _gs)``: each document's full sorted hash set, used
      by the exact verify step.

    The entity-resolution twin of :func:`~dftly_spark.ops.minhash_index`:
    a 100 TB pipeline persists these between ingests
    (``write_bucketed(prefix, key="_g")`` + ``write_bucketed(sets,
    key=id)``) and matches new batches or streams against them with no
    corpus rescan — :func:`dftly_spark.streaming.stream_fuzzy_join` is
    the matching ingest query.  The stored prefixes are exactly long
    enough for the BUILD threshold, so a LOWER query threshold would
    need longer prefixes than were indexed and silently lose recall;
    ``stream_fuzzy_join`` reads ``_idx_n``/``_idx_t`` and raises on
    ``n`` mismatch or a query threshold below the build threshold
    (a HIGHER query threshold is safe — over-long prefixes cost work,
    never recall).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # referenced twice (prefix + sets): truncate lineage at the boundary.
    sh = _shingle_rows(
        df, id_col, text_col, "_cid", n,
        tokens_col=tokens_col,
    ).transform(durable_checkpoint, eager=False)
    prefix = _prefix_rows(sh, "_cid", threshold).select(
        F.col("_cid").alias(id_col),
        "_g",
        "_sz",
        "_rn",
        F.lit(int(n)).alias("_idx_n"),
        F.lit(float(threshold)).alias("_idx_t"),
    )
    sets = (
        sh.groupBy("_cid")
        .agg(F.sort_array(F.collect_list("_g")).alias("_gs"))
        .select(F.col("_cid").alias(id_col), "_gs")
    )
    return prefix, sets
