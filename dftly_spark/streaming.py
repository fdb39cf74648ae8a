"""Structured Streaming integration.

The reference has no streaming surface (SURVEY.md §2.3), but every dftly
expression is row-wise and stateless, so a compiled spec applies to a
streaming DataFrame unchanged — ``Parser.select``/``with_columns`` work on
``spark.readStream`` frames as-is.  This module adds the pieces a streaming
pipeline needs around the expressions:

* :func:`stream_table` — a file-source stream over one of the testdata
  tables (schema taken from the batch reader; the events table's
  nanosecond-timestamp quirk handled the same way as batch).
* :func:`apply_spec` — compile a dftly spec against the stream's schema and
  project it (works for any streaming DataFrame).
* :func:`tumbling_agg` — watermarked tumbling-window aggregation over
  engine-projected columns: the standard late-data-tolerant shape
  (``withWatermark`` → ``groupBy(window(...), keys)``).

Scale notes: stateless projections add no state store; the windowed
aggregation's state is bounded by the watermark horizon, and the shuffle key
is (window, group keys) — the same keyed-shuffle discipline as the batch
operators.
"""

from __future__ import annotations

from pyspark.sql import Column as SparkColumn
from pyspark.sql import DataFrame, SparkSession
from .ops.scale import durable_checkpoint
from pyspark.sql import functions as F

from .sqlgen import portable_round

from .parser import Parser


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over a testdata parquet table (one-file-per-batch).

    Uses the batch reader's schema; ``events.ts`` (TIMESTAMP(NANOS) parquet)
    is read as a long and converted with exact integer division, mirroring
    the batch path.
    """
    import os
    import tempfile

    path = f"{sf_dir}/{name}.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        # The file source requires a directory; expose single-file testdata
        # tables through a symlink directory (read-only, no copy).
        d = tempfile.mkdtemp(prefix=f"stream_{name}_")
        os.symlink(path, os.path.join(d, f"{name}.parquet"))
        path = d
    df = spark.readStream.schema(schema).format("parquet").load(path)
    if name == "events":
        from .io import normalize_event_ts

        df = normalize_event_ts(df)
    return df


def apply_spec(df: DataFrame, spec) -> DataFrame:
    """Project a dftly transformation spec over a (streaming) DataFrame."""
    return Parser.select(df, spec)


def stream_exact_dedup(
    df: DataFrame,
    text_col: str,
    *,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication on the normalized-text hash.

    Emits only the first-seen row of every duplicate group, the streaming
    twin of :func:`dftly_spark.ops.exact_dedup`.  With ``ts_col`` given, the
    state store is bounded: ``dropDuplicatesWithinWatermark`` evicts keys
    older than the watermark horizon, so state is O(distinct keys per
    horizon) — the only shape that survives an unbounded stream.  Without a
    timestamp the state grows with total distinct keys (exact-forever mode;
    use only for bounded backfills).

    The dedup key is the 8-byte ``xxhash64`` of the normalized text, so the
    state store and the pre-dedup shuffle carry hashes, not documents —
    identical key discipline to the batch operator.
    """
    from .ops.textops import normalize_text

    keyed = df.withColumn("_dedup_key", F.xxhash64(normalize_text(F.col(text_col))))
    if ts_col is not None:
        out = keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["_dedup_key"]
        )
    else:
        out = keyed.dropDuplicates(["_dedup_key"])
    return out.drop("_dedup_key")


def stream_minhash_dedup(
    stream_df: DataFrame,
    index_banded: DataFrame,
    index_sets: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    k: int = 32,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """Streaming near-dedup against a PERSISTED MinHash index.

    Each arriving document is checked for near-duplicates in the indexed
    corpus (:func:`dftly_spark.ops.minhash_index`, typically read back from
    its bucketed tables) and matches are emitted as ``(new_id, corpus_id,
    jaccard ≥ threshold)`` — the streaming twin of
    :func:`~dftly_spark.ops.minhash_join_index`.

    Streaming constraints shape the plan: window functions are not allowed
    on unbounded streams, so signatures use the ROW-LOCAL expression forms
    (:func:`~dftly_spark.ops.shingle_hashes` — bit-compatible with the
    index build's window formulation — plus
    :func:`~dftly_spark.ops.minhash_signature`; interpreted HOFs, fine
    per-arriving-row).  Candidates and verification are stream-static
    equi-joins, which Spark runs statelessly — NO state store; the static
    index side is just a (bucketed) table scan per micro-batch.

    Statelessness has one visible consequence: a pair sharing ``b``
    colliding bands is emitted ``b`` times (identical jaccard each time).
    Exactly-once-per-pair needs keyed state that would grow with every
    pair ever emitted; dedupe downstream instead (``dropDuplicates`` on a
    bounded backfill, ``dropDuplicatesWithinWatermark`` when rows carry
    event time, or at the sink).
    """
    from .ops.dedup import _band_buckets, minhash_signature, shingle_hashes_tokens
    from .ops.textops import tokens as _tokens

    rows = k // bands
    # tokenize to an ATTRIBUTE first: the per-gram lambda captures the
    # token array, and interpreted HOFs re-evaluate captured EXPRESSIONS
    # per element — an inline tokens(lower(text)) re-tokenizes the whole
    # document once per gram (measured 17 ms/doc on the fuzzy twin)
    keyed = (
        stream_df.select(
            F.col(id_col).alias("new_id"),
            _tokens(F.lower(F.col(text_col))).alias("_ws"),
        )
        .select(
            "new_id",
            shingle_hashes_tokens(F.col("_ws"), n).alias("_sh_l"),
        )
        .select(
            "new_id",
            "_sh_l",
            F.explode(
                _band_buckets(minhash_signature(F.col("_sh_l"), k), bands, rows)
            ).alias("_bb"),
        )
        .select(
            "new_id",
            "_sh_l",
            F.xxhash64(F.col("_bb.band"), F.col("_bb.bucket")).alias("_key"),
        )
    )
    old = index_banded.withColumnRenamed(id_col, "corpus_id")
    cand = keyed.join(old, "_key")
    cand = cand.join(
        index_sets.select(F.col(id_col).alias("corpus_id"), F.col("_gs").alias("_sh_r")),
        "corpus_id",
    )
    jac = F.size(F.array_intersect("_sh_l", "_sh_r")).cast("double") / F.size(
        F.array_union("_sh_l", "_sh_r")
    )
    return (
        cand.select("new_id", "corpus_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    *,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    keys: list[str] | None = None,
    aggs: dict[str, SparkColumn] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation.

    ``aggs`` maps output name → Spark aggregate Column (vertical aggregation
    is deliberately outside the expression language, SURVEY.md §2.3; the
    caller supplies it just as reference users do with Polars).  Defaults to
    a row count.
    """
    keys = keys or []
    aggs = aggs or {"n": F.count(F.lit(1))}
    grouped = (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), *keys)
        .agg(*[c.alias(name) for name, c in aggs.items()])
    )
    return grouped.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *keys,
        *aggs.keys(),
    )


def hopping_agg(
    df: DataFrame,
    ts_col: str,
    *,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "20 minutes",
    keys: list[str] | None = None,
    aggs: dict[str, SparkColumn] | None = None,
) -> DataFrame:
    """Watermarked hopping (sliding) window aggregation.

    Same contract as :func:`tumbling_agg` with overlapping windows: every
    row lands in ``window/slide`` epoch-aligned windows (Spark expands
    them row-locally before the ONE keyed aggregation shuffle — state and
    shuffle volume scale by the overlap factor, the price of the overlap).
    Works identically on bounded frames (``withWatermark`` is a no-op) and
    streams.
    """
    keys = keys or []
    aggs = aggs or {"n": F.count(F.lit(1))}
    grouped = (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide).alias("win"), *keys)
        .agg(*[c.alias(name) for name, c in aggs.items()])
    )
    return grouped.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *keys,
        *aggs.keys(),
    )


def stream_zscore(
    stream: DataFrame,
    baseline: DataFrame,
    key_col: str,
    value_col: str,
    *,
    z_threshold: float = 3.0,
    decimals: int = 6,
) -> DataFrame:
    """Streaming anomaly scores against a static per-key baseline.

    The deployment twin of :func:`dftly_spark.ops.rolling_zscore`: the
    rolling form learns its reference window inline (a per-key ordered
    window — illegal on unbounded streams), so production scoring splits
    the job the standard way: FIT offline (``baseline_stats`` over
    yesterday's data — mean/stddev per key), SCORE online as a stateless
    stream-static broadcast join + row-local arithmetic.  No state store,
    no watermark needed; refreshing the baseline is a restart (or a
    Delta-backed static frame at cluster scale).

    ``baseline`` must carry ``(key_col, mean, std)``.  Keys the baseline
    has never seen emit null scores / False flags — same honest cold-start
    contract as the rolling form.
    """
    b = F.broadcast(
        baseline.select(
            F.col(key_col).alias("_bk"),
            F.col("mean").alias("_bmean"),
            F.col("std").alias("_bstd"),
        )
    )
    joined = stream.join(b, stream[key_col] == b["_bk"], "left").drop("_bk")
    z = F.when(
        F.col("_bstd") > 0, (F.col(value_col) - F.col("_bmean")) / F.col("_bstd")
    )
    return (
        joined.withColumn("zscore", portable_round(z, decimals))
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.col("zscore")) > z_threshold, F.lit(False)),
        )
        .drop("_bmean", "_bstd")
    )


def baseline_stats(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-key ``(key, mean, std)`` fit for :func:`stream_zscore` — one
    keyed aggregation over the reference window (run it on yesterday's
    bounded slice, persist, hand to the stream job)."""
    return df.groupBy(key_col).agg(
        F.mean(value_col).alias("mean"),
        F.stddev_samp(value_col).alias("std"),
    )


def session_spans(
    df: DataFrame,
    key_col,
    ts_col: str,
    *,
    gap: str = "15 minutes",
    watermark: str | None = None,
    aggs: dict[str, SparkColumn] | None = None,
) -> DataFrame:
    """Merged activity spans per key via Spark's NATIVE session windows:
    ``(key, span_start, span_end, n_events, ...aggs)``.

    The built-in twin of :func:`dftly_spark.ops.merge_intervals`: treating
    each event as an interval ``[ts, ts + gap)``, the two produce
    IDENTICAL spans (pinned in tests) — ``session_window`` merges events
    whose gap-extended intervals touch, exactly the gaps-and-islands
    union.  Use merge_intervals when intervals have REAL per-row ends
    (bounded frames only — it needs an ordered window); use this form when
    the interval is "event + inactivity gap", because it runs UNCHANGED on
    unbounded streams: pass ``watermark`` and Spark's session-window state
    store merges and EVICTS closed sessions per watermark — O(open
    sessions) state, the scalable default for streaming sessionization.

    One keyed shuffle either way.  ``aggs`` adds extra per-span aggregates
    (e.g. ``{"total": F.sum("value")}``).
    """
    keys = [key_col] if isinstance(key_col, str) else list(key_col)
    src = df
    if watermark is not None:
        src = src.withWatermark(ts_col, watermark)
    extra = [v.alias(k) for k, v in (aggs or {}).items()]
    win = F.session_window(F.col(ts_col), gap)
    return (
        src.groupBy(win, *[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("n_events"), *extra)
        .select(
            *keys,
            F.col("session_window.start").alias("span_start"),
            F.col("session_window.end").alias("span_end"),
            "n_events",
            *[F.col(k) for k in (aggs or {})],
        )
    )


def maintain_minhash_index(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    banded_path: str,
    sets_path: str,
    n: int = 3,
    k: int = 32,
    bands: int = 16,
    checkpoint: str,
    dedup_first: tuple[DataFrame, DataFrame] | None = None,
    threshold: float = 0.7,
):
    """Keep the persisted MinHash index CURRENT from a document stream.

    The write half of the incremental-dedup loop (:func:`stream_minhash_dedup`
    is the read half): every micro-batch computes its banded signatures +
    shingle sets with the row-local expression forms and APPENDS them to
    the index's parquet tables via ``foreachBatch`` — so the next batch
    (and every offline ingest) joins against a corpus that includes
    everything already streamed.  With ``dedup_first=(banded, sets)`` the
    batch is first screened against the CURRENT index and only novel
    documents (no match ≥ ``threshold``) are admitted — the standard
    "index admits no near-duplicate" invariant, maintained incrementally.

    foreachBatch is the sanctioned Structured Streaming sink-extension
    point; each batch write is tracked by the query checkpoint, giving the
    standard at-least-once appends (pair that with the id column on read,
    or rewrite into a bucketed table periodically via ``write_bucketed``
    during compaction).  Returns the started StreamingQuery.
    """
    from .ops.dedup import minhash_index

    def write_batch(batch: DataFrame, _batch_id: int) -> None:
        admit = batch
        if dedup_first is not None:
            idx_banded, idx_sets = dedup_first
            matches = stream_minhash_dedup(
                admit, idx_banded, idx_sets, id_col, text_col,
                n=n, k=k, bands=bands, threshold=threshold,
            ).select(F.col("new_id").alias("_dup_id")).distinct()
            admit = admit.join(
                matches, admit[id_col] == matches["_dup_id"], "left_anti"
            )
        banded, sets = minhash_index(admit, id_col, text_col, n=n, k=k, bands=bands)
        banded.write.mode("append").parquet(banded_path)
        sets.write.mode("append").parquet(sets_path)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def windowed_heavy_hitters(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    min_count: int = 10,
    top_k: int | None = None,
) -> DataFrame:
    """Per-window heavy hitters: keys whose count reaches ``min_count``.

    ONE watermarked tumbling-window aggregation (:func:`tumbling_agg`)
    with the support threshold applied to the aggregate — streaming-safe
    in append mode (rows emit when the watermark closes each window), and
    the identical plan on bounded frames.  State is O(active windows ×
    distinct keys), evicted by the watermark.

    ``top_k`` additionally ranks within each window (count desc, key asc
    tiebreak) — a rank over a finished aggregate, so it is batch-only;
    streams should threshold with ``min_count`` (or post-process the
    sink).  For cardinalities too large for exact per-key counts, screen
    first with the count-min sketch (:func:`~dftly_spark.ops.cms_build`).
    """
    counts = tumbling_agg(
        df, ts_col, window=window, watermark=watermark,
        keys=[key_col], aggs={"n": F.count(F.lit(1))},
    )
    hh = counts.where(F.col("n") >= min_count)
    if top_k is not None:
        if df.isStreaming:
            raise ValueError(
                "top_k ranking needs the finished window (batch); streams "
                "use min_count thresholding in append mode"
            )
        from pyspark.sql import Window as W

        w = W.partitionBy("window_start").orderBy(
            F.col("n").desc(), F.col(key_col)
        )
        hh = (
            hh.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k)
        )
    return hh


def windowed_cardinality(
    df: DataFrame,
    ts_col: str,
    col: str,
    *,
    keys: list[str] | None = None,
    window: str = "1 hour",
    watermark: str = "2 hours",
    approx: bool | None = None,
    rsd: float = 0.05,
) -> DataFrame:
    """Distinct values of ``col`` per (window, keys) — batch or stream.

    ``approx=None`` auto-selects: HLL++ on streams (Structured Streaming
    does not support exact distinct aggregates — and at unbounded scale
    the mergeable constant-size sketch is the right answer anyway), exact
    ``count(DISTINCT)`` on bounded frames (what the oracle replays).
    HLL++ is deterministic for a given input multiset (register maxima
    are order-independent), so the batch/stream parity test pins the
    approx path to identical values on both.
    """
    if approx is None:
        approx = df.isStreaming
    if df.isStreaming and not approx:
        raise ValueError(
            "exact distinct aggregation is unsupported on streams; use "
            "approx=True (HLL++, mergeable constant-size state)"
        )
    fn = (
        (lambda c: F.approx_count_distinct(c, rsd))
        if approx
        else F.countDistinct
    )
    return tumbling_agg(
        df, ts_col, window=window, watermark=watermark, keys=keys or [],
        aggs={"n_rows": F.count(F.lit(1)), f"nd_{col}": fn(F.col(col))},
    )


def _prob_label(p: float) -> str:
    """0.5 -> p50, 0.99 -> p99, 0.999 -> p99_9."""
    s = f"{p * 100:g}".replace(".", "_")
    return f"p{s}"


def windowed_quantiles(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    keys: list[str] | None = None,
    window: str = "1 hour",
    watermark: str = "2 hours",
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    approx: bool | None = None,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-window quantiles of ``value_col`` (latency dashboards: p50/p90/
    p99 per hour per service) — batch or stream, one column per prob.

    ``approx=None`` auto-selects: ``percentile_approx`` on streams (exact
    percentile is an ordered-set aggregate Structured Streaming cannot run
    incrementally; the Greenwald-Khanna summary is mergeable bounded-size
    state with rank error ≤ 1/``accuracy``), exact ``percentile`` on
    bounded frames — the linear-interpolation definition DuckDB's
    ``quantile_cont`` shares (the x27/x82 parity).  Completes the windowed
    trio next to :func:`windowed_heavy_hitters` / :func:`windowed_cardinality`.
    """
    if approx is None:
        approx = df.isStreaming
    if df.isStreaming and not approx:
        raise ValueError(
            "exact percentile is unsupported on streams; use approx=True "
            "(mergeable bounded-size quantile summary)"
        )
    v = F.col(value_col)
    if approx:
        aggs = {
            _prob_label(p): F.percentile_approx(v, p, accuracy) for p in probs
        }
    else:
        aggs = {_prob_label(p): F.percentile(v, p) for p in probs}
    aggs = {"n": F.count(v), **aggs}
    return tumbling_agg(
        df, ts_col, window=window, watermark=watermark, keys=keys or [],
        aggs=aggs,
    )


def session_window_stats(
    df: DataFrame,
    ts_col: str = "ts",
    *,
    keys: list[str] | None = None,
    gap: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Per-session aggregates via Spark's NATIVE session window.

    ``F.session_window(ts, gap)`` is the built-in merging-window operator:
    a session extends ``gap`` past each event and windows that touch
    merge — the engine-managed (and on streams, state-store-backed,
    watermark-expired) counterpart of the custom sessionize operators in
    ``ops/sessions.py``.  Output per (keys, session): ``session_start_us``
    / ``session_end_us`` (end = last event + gap, the session-window
    convention) and ``n_events``.

    Boundary note vs :func:`ops.sessions.sessionize`: the custom operator
    keeps an event at EXACTLY ``gap`` distance in the same session
    (``>`` break test) while the native window starts a new one
    (half-open ``[ts, ts+gap)`` extension) — identical everywhere else,
    pinned by the batch parity test.

    Batch and stream share this code path; on streams pass ``watermark``
    so closed sessions finalize and their state expires.
    """
    keys = list(keys or [])
    if df.isStreaming and not keys:
        # fail LOUDLY at build time: Spark rejects a global session-window
        # aggregation on streams only once the query thread is running
        raise ValueError(
            "session_window_stats on a stream needs at least one key "
            "(global session windows are unsupported in streaming)"
        )
    spans = session_spans(df, keys, ts_col, gap=gap, watermark=watermark)
    return spans.select(
        *keys,
        F.unix_micros(F.col("span_start")).alias("session_start_us"),
        F.unix_micros(F.col("span_end")).alias("session_end_us"),
        "n_events",
    )


def stream_fuzzy_join(
    stream_df: DataFrame,
    index_prefix: DataFrame,
    index_sets: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    carry_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Streaming entity resolution against a PERSISTED prefix-filter index.

    Each arriving row is matched against the indexed corpus
    (:func:`dftly_spark.ops.fuzzy_index`, typically read back from its
    bucketed tables) and qualifying pairs are emitted as ``(new_id,
    corpus_id, jaccard >= threshold)`` — the streaming twin of
    :func:`~dftly_spark.ops.fuzzy_join`, with the same exact-recall
    guarantee (prefix filtering is lossless, not LSH).

    Streaming constraints shape the plan exactly as in
    :func:`stream_minhash_dedup`: window functions are not allowed on
    unbounded streams, so the arriving side uses the ROW-LOCAL expression
    forms (:func:`~dftly_spark.ops.shingle_hashes` — bit-compatible with
    the index build's window formulation — then ``array_sort`` + ``slice``
    for the hash-order prefix; interpreted HOFs, fine per-arriving-row).
    Candidates and verification are stream-static equi-joins — stateless,
    NO state store; the index side is a (bucketed) table scan per
    micro-batch.  ``n``/``threshold`` must be compatible with the index
    build: the stored prefixes are sized for the BUILD threshold, so a
    lower query threshold would silently lose recall.  Indexes built by
    :func:`~dftly_spark.ops.fuzzy_index` carry their build parameters as
    ``_idx_n``/``_idx_t`` constant columns; when present they are
    validated here (one bounded driver-side read of the static index) and
    a mismatched ``n`` or a query threshold below the build threshold
    raises instead of silently losing recall.  A query threshold ABOVE
    the build threshold is accepted — over-long prefixes cost candidate
    work, never pairs.  Params-less indexes (built before round 10, or
    hand-assembled) skip the check, trusting the caller.

    Statelessness has one visible consequence: a pair sharing multiple
    prefix hashes is emitted once per shared prefix hash (identical
    jaccard each time).  Dedupe downstream (``dropDuplicates`` on a
    bounded backfill, ``dropDuplicatesWithinWatermark`` with event time,
    or at the sink).  ``carry_cols`` propagates stream-side columns
    (watermarked event time, source tags) through to the output so the
    downstream stateful dedup has its time column — the full ingest
    wiring is ``stream.withWatermark(ts, ...)`` →
    ``stream_fuzzy_join(..., carry_cols=(ts,))`` →
    ``dropDuplicatesWithinWatermark(["new_id", "corpus_id"])``.
    """
    from .ops.dedup import shingle_hashes_tokens
    from .ops.textops import tokens as _tokens

    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if "_idx_n" in index_prefix.columns and "_idx_t" in index_prefix.columns:
        # the index is static and bounded — one driver-side row read
        params = index_prefix.select("_idx_n", "_idx_t").first()
        if params is not None:
            built_n, built_t = params["_idx_n"], params["_idx_t"]
            if built_n != n:
                raise ValueError(
                    f"fuzzy index was built with n={built_n}, queried with "
                    f"n={n}: shingle widths must match exactly"
                )
            if threshold < built_t:
                raise ValueError(
                    f"fuzzy index was built for threshold >= {built_t}, "
                    f"queried at {threshold}: stored prefixes are too short "
                    f"for a lower threshold and would silently lose recall "
                    f"(rebuild the index at the lower threshold, or raise "
                    f"the query threshold)"
                )
    carry = list(carry_cols)
    # every internal name used anywhere in this plan (shingle frame, probe
    # positions, static-index columns) — a carry column shadowing one would
    # surface as a confusing duplicate/ambiguous-column error at join time
    reserved = {
        "new_id", "corpus_id", "jaccard", "_sh_l", "_sz_l", "_g", "_gs",
        "_pos0", "_rn_l", "_sz", "_rn", "_idx_n", "_idx_t", "_ws",
    }
    bad = reserved.intersection(carry)
    if bad:
        raise ValueError(f"carry_cols collide with output/internal names: {sorted(bad)}")
    src_df = stream_df
    if not stream_df.isStreaming:
        # bounded twin: the arriving side usually scans a handful of
        # parquet files (often ONE partition) and the row-local shingle
        # forms are interpreted HOFs — without a repartition every
        # per-row microsecond lands on a single task.  The checkpoint is
        # the optimizer boundary that KEEPS it fixed: Catalyst otherwise
        # pushes the downstream shingle projection below the repartition,
        # moving the interpreted work back onto the single map task
        # (measured: 22 s single-task map stage without it)
        sc = stream_df.sparkSession.sparkContext
        src_df = (
            stream_df.select(id_col, text_col, *carry)
            .repartition(sc.defaultParallelism)
            .transform(durable_checkpoint, eager=False)
        )
    # tokens projected to an attribute BEFORE the shingle lambda captures
    # them (captured expressions re-evaluate per gram in interpreted HOFs:
    # the inline form re-tokenized every document once per gram — 28 s for
    # 1 667 probes at sf0.1, 2.4 s after this split)
    base = src_df.select(
        F.col(id_col).alias("new_id"), *carry,
        _tokens(F.lower(F.col(text_col))).alias("_ws"),
    ).select(
        "new_id", *carry,
        F.array_sort(shingle_hashes_tokens(F.col("_ws"), n)).alias("_sh_l"),
    ).where(F.size("_sh_l") > 0)
    if not stream_df.isStreaming:
        # bounded twin (gates, backfills): the interpreted shingle arrays
        # are referenced by both the prefix explode and the verify — cut
        # the lineage so they compute once; illegal on streams (where each
        # micro-batch is small and single-pass anyway)
        base = base.transform(durable_checkpoint, eager=False)
    s = F.size("_sh_l")
    p = s - F.ceil(F.lit(threshold) * s - F.lit(1e-9)).cast("int") + 1
    keyed = base.select(
        "new_id",
        *carry,
        "_sh_l",
        F.size("_sh_l").alias("_sz_l"),
        F.posexplode(F.slice("_sh_l", F.lit(1), p)).alias("_pos0", "_g"),
    ).withColumn("_rn_l", F.col("_pos0") + 1)
    old = index_prefix.withColumnRenamed(id_col, "corpus_id")
    # hash equi-join + the AllPairs length filter + the PPJoin positional
    # filter (both lossless — see ops/entity.py).  An index persisted
    # before positions were stored (no ``_rn`` column) still works: the
    # positional filter simply degrades to length-filter-only pruning.
    cond = (
        (keyed["_g"] == old["_g"])
        & (old["_sz"] >= F.ceil(F.lit(threshold) * keyed["_sz_l"] - F.lit(1e-9)))
        & (keyed["_sz_l"] >= F.ceil(F.lit(threshold) * old["_sz"] - F.lit(1e-9)))
    )
    if "_rn" in index_prefix.columns:
        alpha = F.ceil(
            F.lit(threshold / (1.0 + threshold)) * (keyed["_sz_l"] + old["_sz"])
            - F.lit(1e-9)
        )
        cond = cond & (
            F.lit(1) + F.least(keyed["_sz_l"] - keyed["_rn_l"], old["_sz"] - old["_rn"])
            >= alpha
        )
    cand = keyed.join(old, cond).select("new_id", *carry, "_sh_l", "corpus_id")
    cand = cand.join(
        index_sets.select(F.col(id_col).alias("corpus_id"), "_gs"), "corpus_id"
    )
    jac = F.size(F.array_intersect("_sh_l", "_gs")).cast("double") / F.size(
        F.array_union("_sh_l", "_gs")
    )
    return (
        cand.select("new_id", *carry, "corpus_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def windowed_calibration(
    df: DataFrame,
    ts_col: str,
    score_col: str,
    label_col: str,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Per-window reliability diagram — the streaming twin of
    :func:`~dftly_spark.ops.calibration_curve`.

    A deployed scorer drifts; this watches calibration LIVE: one
    watermarked tumbling-window aggregation keyed on (window, bin) with
    the same bin expression and the same exact conventions as the batch
    op (integer-scaled mean_score, integer-ratio frac_pos), so a window's
    row equals the batch op run over that window's slice.  Works
    identically on bounded frames (``withWatermark`` is a no-op there).

    State per window is ≤ ``bins`` rows of counters — bounded regardless
    of stream volume; the watermark evicts closed windows.
    """
    from .ops.quality import calibration_exprs

    # the s/y/bin/agg expressions come from the ONE shared definition —
    # see calibration_exprs — so the bin-for-bin batch equality holds by
    # construction, not by parallel maintenance
    s, y, b, aggs = calibration_exprs(score_col, label_col, bins, lo, hi)
    grouped = (
        df.where(s.isNotNull() & y.isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), b.alias("bin"))
        .agg(*aggs)
    )
    return grouped.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "bin", "n", "n_pos", "mean_score", "frac_pos",
    )
