"""Sparse lexical retrieval over a document corpus (BM25 / TF-IDF).

The curation-side complement to the dense ANN operators in ``similarity.py``:
keyword search over 100 TB of text for targeted inspection ("show me docs
matching this contamination probe"), benchmark-overlap mining, and boosted
sampling all reduce to scoring documents against a small query set.

Scale shape (the inverted-index join, never a scan-per-query):

* the corpus is tokenized ONCE into a ``(doc, term, tf)`` postings frame —
  at 100 TB this is the thing you'd persist/bucket by term;
* the (tiny) query term set is broadcast; only postings whose term appears
  in some query survive the join — a fraction ``|query vocab| / |corpus
  vocab|`` of the index, with no shuffle of the corpus text itself;
* document frequencies for idf come from a window count over the matched
  term partition (one keyed shuffle of the slim matched postings);
* per-(query, doc) scores sum over a deterministically sorted term list
  (sequential fold), so scores are bit-reproducible in any engine with a
  left-to-right list reduce — the DuckDB oracle replays them exactly.

All JVM-side ``pyspark.sql.functions``; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textops import doc_tokens, normalize_text, tokens


def _term_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokens_col: str | None = None,
) -> DataFrame:
    """``(_id, _term, _tf, _dl)`` — per-document term frequencies plus the
    document length, from normalized whitespace tokens (or the precomputed
    ``tokens_col`` — the same arrays, see
    :func:`~dftly_spark.ops.tokenized_docs`)."""
    base = df.select(
        F.col(id_col).alias("_id"),
        doc_tokens(df, text_col, tokens_col).alias("_w"),
    ).select("_id", F.size("_w").alias("_dl"), F.explode("_w").alias("_term"))
    return base.groupBy("_id", "_term").agg(
        F.count(F.lit(1)).alias("_tf"), F.any_value("_dl").alias("_dl")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    tokens_col: str | None = None,
) -> DataFrame:
    """Top-``k`` documents per query by Okapi BM25.

    Returns ``(query_id, doc_id, score, rank)`` with rank 1 = best and ties
    broken by ascending doc id.  Scoring is the standard Lucene-flavored
    BM25: ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))`` and
    ``tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``, summed over the query's
    distinct terms in lexicographic term order (the deterministic fold that
    lets the oracle match bit-for-bit).

    ``queries`` must be small (its term set is broadcast).  Corpus stats
    (``N``, ``avgdl``) ride along as a broadcast one-row frame — no
    driver-side collect, so the whole thing stays one lazy plan.
    """
    tf = _term_frame(docs, id_col, text_col, tokens_col)
    # Corpus stats (N, avgdl): one narrow pass off the docs scan,
    # independent of the postings aggregation (which would re-tokenize the
    # corpus a second time just to count documents).
    dl_frame = docs.select(
        F.size(doc_tokens(docs, text_col, tokens_col)).alias("_dl")
    ).where(F.col("_dl") > 0)
    stats = dl_frame.groupBy().agg(
        F.count(F.lit(1)).alias("_n_docs"),
        (F.sum("_dl") / F.count(F.lit(1))).alias("_avgdl"),
    )

    qterms = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.explode(F.array_distinct(tokens(normalize_text(F.col(query_col))))).alias(
            "_term"
        ),
    ).dropDuplicates(["_qid", "_term"])

    matched = tf.join(F.broadcast(qterms.select("_term").distinct()), "_term")
    # Document frequency of each matched term over the full corpus postings:
    # groupBy with map-side partial counts (|query vocab| rows total), NOT a
    # window over the term partition, which would shuffle every matched
    # posting onto its term's reducer (hot query terms like "the" collapse
    # onto one partition at corpus scale).  The df side joins back as a
    # plain equi-join rather than a broadcast: a broadcast would force a
    # separate materialization job that re-tokenizes the corpus, while the
    # shuffle join keeps one job in which the matched-postings exchange is a
    # ReusedExchange — the corpus is tokenized exactly once.  The tiny df
    # side makes AQE pick a broadcast/local join for the probe anyway.
    dfreq = matched.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
    matched = matched.join(dfreq, "_term")
    scored = (
        matched.join(F.broadcast(qterms), "_term")
        .crossJoin(F.broadcast(stats))
        .select(
            "_qid",
            "_id",
            "_term",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("_n_docs") - F.col("_df") + F.lit(0.5))
                    / (F.col("_df") + F.lit(0.5))
                )
                * (F.col("_tf") * F.lit(k1 + 1.0))
                / (
                    F.col("_tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("_dl") / F.col("_avgdl")
                    )
                )
            ).alias("_s"),
        )
    )
    # Deterministic per-(query, doc) sum: fold the term scores in term order.
    agg = scored.groupBy("_qid", "_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_term", "_s"))),
                lambda st: st["_s"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score")
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("score"), F.asc("_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_id").alias(id_col),
            "score",
            "rank",
        )
    )


def tf_idf_vectors(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_vocab: int | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Sparse TF-IDF postings: ``(doc_id, term, tf, df, tf_idf)``.

    ``tf_idf = tf · ln(N / df)`` (plain inverse document frequency; terms
    appearing in every document score 0).  ``min_df`` drops hapax noise;
    ``max_vocab`` keeps only the most frequent terms (deterministic
    count-desc, term-asc order).  One tokenization pass + keyed aggregations
    — the postings-building half of :func:`bm25_topk`, exposed for feature
    pipelines that want the vectors themselves.

    The tf⋈df join is keyed on term; stop-word-grade terms are hot keys, so
    at corpus scale run with AQE skew-join enabled (the suite default) or
    pre-filter them via ``max_vocab``/a stopword list.
    """
    tf = _term_frame(docs, id_col, text_col, tokens_col)
    n_docs = tf.groupBy("_id").count().groupBy().agg(
        F.count(F.lit(1)).alias("_n_docs")
    )
    dfreq = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
    if min_df > 1:
        dfreq = dfreq.where(F.col("_df") >= min_df)
    if max_vocab is not None:
        keep = (
            dfreq.orderBy(F.col("_df").desc(), F.col("_term").asc())
            .limit(max_vocab)
            .select("_term")
        )
        dfreq = dfreq.join(keep, "_term")
    return (
        tf.join(dfreq, "_term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("_id").alias(id_col),
            F.col("_term").alias("term"),
            F.col("_tf").cast("bigint").alias("tf"),
            F.col("_df").cast("bigint").alias("df"),
            (
                F.col("_tf")
                * F.log(F.col("_n_docs").cast("double") / F.col("_df"))
            ).alias("tf_idf"),
        )
    )


def sparse_cosine_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.3,
    min_df: int = 1,
    max_df: int | None = None,
    max_vocab: int | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Document pairs by sparse TF-IDF cosine — the lexical twin of the
    dense-embedding dedup family.

    Candidates come from the inverted index (postings self-join on term:
    only pairs sharing ≥1 surviving term are ever materialized — never
    all-pairs), and the cosine is exact over the L2-normalized TF-IDF
    vectors.  ``max_df`` drops stop-word-grade terms before pairing: a term
    in ``m`` documents contributes ``m²`` candidate rows, so capping df is
    the same hot-key discipline as the shingle join's cap — it changes the
    vector space (the mirror applies the same cap), not the exactness.

    Both the per-document norms and the per-pair dot products fold in
    term-sorted order (``array_sort`` + sequential ``aggregate``), so every
    double is bit-reproducible and an external engine replays them exactly
    (``list_reduce(list(x ORDER BY term))``).  Returns ``(id_l, id_r,
    cos)`` with ``id_l < id_r`` and ``cos ≥ threshold``.
    """
    postings = tf_idf_vectors(
        docs,
        id_col=id_col,
        text_col=text_col,
        min_df=min_df,
        max_vocab=max_vocab,
        tokens_col=tokens_col,
    ).select(F.col(id_col).alias("_id"), "term", "df", "tf_idf")
    if max_df is not None:
        postings = postings.where(F.col("df") <= max_df)
    # referenced THREE times below (norms + both self-join sides) — without
    # lineage truncation the tokenize+tf+df build rides the plan once per
    # reference (AQE stage reuse dedupes only bit-identical exchange
    # subtrees, and the three consumers project/aggregate differently
    # above the shared scan).  Round-14 A/B at sf0.1 (x54 shape):
    # 2.1 s → 1.5 s median with the truncation.
    from .scale import durable_checkpoint

    postings = durable_checkpoint(postings, eager=False)

    def _sorted_fold(pairs_col):
        return F.aggregate(
            F.transform(F.array_sort(pairs_col), lambda st: st["v"]),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    norms = postings.groupBy("_id").agg(
        F.sqrt(
            _sorted_fold(
                F.collect_list(F.struct(F.col("term"), (F.col("tf_idf") * F.col("tf_idf")).alias("v")))
            )
        ).alias("_norm")
    )
    unit = (
        postings.join(norms, "_id")
        .where(F.col("_norm") > 0)
        .select("_id", "term", (F.col("tf_idf") / F.col("_norm")).alias("_w"))
    )
    l = unit.select(F.col("_id").alias("id_l"), "term", F.col("_w").alias("_wl"))
    r = unit.select(F.col("_id").alias("id_r"), "term", F.col("_w").alias("_wr"))
    # SHUFFLE_HASH on one side of the term self-join: with max_df capping
    # hot terms the per-partition build is bounded, and SMJ would sort
    # BOTH posting streams by term first (round-14 conf A/B: x54 -0.5 s;
    # the hinted plan drops both per-side Sorts).  Only hinted when the
    # cap is actually set — shuffled-hash cannot spill its build side, so
    # an uncapped stop-word term must keep sort-merge's graceful-spill
    # default (round-15, from round-14 advice).
    if max_df is not None:
        r = r.hint("shuffle_hash")
    return (
        l.join(r, "term")
        .where(F.col("id_l") < F.col("id_r"))
        .groupBy("id_l", "id_r")
        .agg(
            _sorted_fold(
                F.collect_list(
                    F.struct(F.col("term"), (F.col("_wl") * F.col("_wr")).alias("v"))
                )
            ).alias("cos")
        )
        .where(F.col("cos") >= threshold)
    )


def distinctive_terms(
    docs: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 10,
    min_group_tf: int = 5,
    tokens_col: str | None = None,
) -> DataFrame:
    """Top-``k`` most distinctive terms per group by relative-frequency lift.

    The corpus-card question "what does each source/language/domain talk
    about that the rest doesn't": ``lift = (term's share of the group's
    tokens) / (term's share of all tokens)``.  Lift > 1 marks
    group-specific vocabulary; stop words sit near 1 in every group and
    never surface.  ``min_group_tf`` suppresses one-off typos.  Output:
    ``(group, term, tf, lift)``, ``k`` rows per group ranked by lift.

    Built on the SAME per-document term frame BM25/TF-IDF use: per-group
    term counts via ONE keyed agg, corpus totals via a second agg over
    that (already small) frame reused twice — Catalyst sees a
    ReusedExchange, and the 1-row grand total joins by the sanctioned tiny
    broadcast.  The rank
    window orders ≤ |vocab| rows per group, never documents.  ``lift`` is
    built from counts with only IEEE ``*``/``/`` — correctly rounded,
    engine-exact, no rounding hedge — and ties (identical count tuples)
    break on the term string.
    """
    from pyspark.sql import Window

    terms = _term_frame(docs, id_col, text_col, tokens_col)
    with_g = terms.join(
        docs.select(F.col(id_col).alias("_id"), F.col(group_col).alias("_g")),
        "_id",
    )
    gterm = with_g.groupBy("_g", "_term").agg(F.sum("_tf").alias("_gtf"))
    gtot = gterm.groupBy("_g").agg(F.sum("_gtf").alias("_gtot"))
    cterm = gterm.groupBy("_term").agg(F.sum("_gtf").alias("_ctf"))
    ctot = gterm.agg(F.sum("_gtf").alias("_ctot"))
    scored = (
        gterm.where(F.col("_gtf") >= min_group_tf)
        .join(gtot, "_g")
        .join(cterm, "_term")
        .crossJoin(F.broadcast(ctot))
        .select(
            F.col("_g").alias(group_col),
            F.col("_term").alias("term"),
            F.col("_gtf").alias("tf"),
            (
                (F.col("_gtf").cast("double") / F.col("_gtot"))
                / (F.col("_ctf").cast("double") / F.col("_ctot"))
            ).alias("lift"),
        )
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("lift").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def ranking_metrics(
    run: DataFrame,
    qrels: DataFrame,
    *,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query retrieval quality: ``recall@k``, ``precision@k``, ``mrr``.

    The eval half of the retrieval family: ``run`` is a ranked result list
    (what :func:`bm25_topk` / ANN top-k emit), ``qrels`` the relevant-doc
    set.  recall@k = relevant retrieved in the top ``k`` / total relevant;
    precision@k divides by ``k``; MRR is 1/rank of the first relevant hit
    (0 when none).  Queries with qrels but no run rows still appear (zero
    scores) — silently dropping them inflates every metric, the classic
    eval bug.

    One query-keyed left join (qrels side aggregated first, so the join
    ships one row per (query, doc)) and one keyed agg; all three metrics
    are ratios of counts — exact rationals, engine-identical, no float
    hedging.  ``rank`` must be 1-based.
    """
    q = F.col(query_col)
    truth = qrels.groupBy(q.alias("_q")).agg(
        F.collect_set(F.col(doc_col)).alias("_rel"),
        F.count(F.lit(1)).alias("_n_rel"),
    )
    joined = truth.join(
        run.select(
            q.alias("_q"),
            F.col(doc_col).alias("_d"),
            F.col(rank_col).alias("_rk"),
        ),
        "_q",
        "left",
    ).withColumn("_hit", F.array_contains("_rel", F.col("_d")))
    return (
        joined.groupBy(F.col("_q").alias(query_col))
        .agg(
            F.max("_n_rel").alias("_n_rel"),
            F.count(F.when(F.col("_hit") & (F.col("_rk") <= k), 1)).alias("_hits_k"),
            F.min(F.when(F.col("_hit"), F.col("_rk"))).alias("_first"),
        )
        .select(
            query_col,
            (F.col("_hits_k").cast("double") / F.col("_n_rel")).alias("recall_at_k"),
            (F.col("_hits_k").cast("double") / F.lit(k)).alias("precision_at_k"),
            F.coalesce(F.lit(1.0) / F.col("_first"), F.lit(0.0)).alias("mrr"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    topk: int | None = None,
    decimals: int = 9,
) -> DataFrame:
    """Reciprocal-rank fusion of N rankings (Cormack et al. 2009), the
    standard hybrid-retrieval combiner (BM25 ⊕ dense ANN ⊕ …).

    Each input frame holds per-query ranked candidates ``(query_col,
    doc_col, rank_col)``; the fused score of a document is
    ``Σ_lists 1/(k + rank)`` over the lists it appears in (absent = no
    contribution — the rank-only formulation, robust to incomparable
    scores across retrievers, which is the point of RRF).  Returns
    ``(query_col, doc_col, n_lists, rrf, rank)`` re-ranked by fused
    score (ties broken by ascending doc id), optionally cut at ``topk``.

    Duplicate (query, doc) rows within ONE input list would double-count
    that list; inputs are deduped to their best (lowest) rank first, so
    any ranking frame is safe to pass as-is.  NULL-rank rows are dropped
    before the dedup (an unranked row is "absent", contributing neither
    a score term nor an ``n_lists`` count).

    Scale shape: top-k frames are tiny relative to the corpus — this is
    one union, one keyed aggregation (map-side combined), and a per-query
    window over ≤ N·k rows; no corpus-sized work, no broadcast state.
    The fused score is rounded on the floor-scale grid (``decimals``)
    because a ``sum`` over doubles is accumulation-order-dependent in the
    last ulp across engines; the re-rank sorts the ROUNDED score so tie
    behavior is engine-identical too.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking frame")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    parts = []
    for r in rankings:
        best = (
            r.where(F.col(rank_col).isNotNull())
            .groupBy(F.col(query_col).alias("_q"), F.col(doc_col).alias("_d"))
            .agg(F.min(F.col(rank_col)).alias("_rk"))
        )
        parts.append(
            best.select(
                "_q", "_d", (F.lit(1.0) / (F.lit(k) + F.col("_rk"))).alias("_c")
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    from ..sqlgen import portable_round

    fused = u.groupBy("_q", "_d").agg(
        F.count(F.lit(1)).alias("n_lists"),
        portable_round(F.sum("_c"), decimals).alias("rrf"),
    )
    w = Window.partitionBy("_q").orderBy(F.desc("rrf"), F.asc("_d"))
    out = fused.withColumn("rank", F.row_number().over(w)).select(
        F.col("_q").alias(query_col),
        F.col("_d").alias(doc_col),
        "n_lists",
        "rrf",
        "rank",
    )
    return out.where(F.col("rank") <= topk) if topk is not None else out
