"""Streaming integration: engine specs over readStream, batch-stream parity."""

import pytest
from pyspark.sql import functions as F

from dftly_spark import Parser
from dftly_spark.streaming import apply_spec, stream_table, tumbling_agg
from dftly_spark.io import normalize_event_ts

SF_DIR = "/root/testdata/sf0.001"

SPEC = {
    "ev": "$event_id",
    "etype": "$event_type",
    "ts": "$ts",
    "score": "$value * 2 + 1",
    "bucket": "'hot' if $value > 10 else 'cold'",
    "hour": "$ts::hour_of_day",
}


def _run_to_memory(spark, sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _batch_events(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))


def test_spec_projection_streams(spark):
    stream = apply_spec(stream_table(spark, SF_DIR, "events"), SPEC)
    assert stream.isStreaming
    got = _run_to_memory(spark, stream, "stream_proj")
    batch = Parser.select(_batch_events(spark), SPEC)
    assert got.count() == batch.count()
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b


def test_stream_exact_dedup_matches_batch(spark):
    from dftly_spark.ops import exact_dedup
    from dftly_spark.streaming import stream_exact_dedup

    stream = stream_table(spark, SF_DIR, "documents")
    got = _run_to_memory(
        spark, stream_exact_dedup(stream, "text"), "stream_dedup"
    )
    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    batch_groups = exact_dedup(batch, "text", "doc_id")
    # one survivor per distinct normalized text, same group count as batch
    assert got.count() == batch_groups.count()
    # survivors are distinct under normalization
    from dftly_spark.ops.textops import normalize_text

    n_distinct = got.select(normalize_text(F.col("text")).alias("t")).distinct().count()
    assert n_distinct == got.count()


def test_stream_exact_dedup_watermarked_plan_has_state_eviction(spark):
    """The ts-bounded variant must compile to dropDuplicatesWithinWatermark
    (bounded state), not plain dropDuplicates."""
    from dftly_spark.streaming import stream_exact_dedup

    stream = stream_table(spark, SF_DIR, "events").withColumn(
        "text", F.col("event_type")
    )
    out = stream_exact_dedup(stream, "text", ts_col="ts", watermark="30 minutes")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "DeduplicateWithinWatermark" in plan


def test_windowed_agg_matches_batch(spark):
    stream = stream_table(spark, SF_DIR, "events")
    projected = apply_spec(stream, {"ts": "$ts", "etype": "$event_type", "v": "$value"})
    windowed = tumbling_agg(
        projected,
        "ts",
        window="1 hour",
        watermark="2 hours",
        keys=["etype"],
        aggs={"n": F.count(F.lit(1)), "total": F.sum("v")},
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("stream_win")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table("stream_win").collect()}

    batch = (
        _batch_events(spark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            F.col("event_type").alias("etype"),
            "n",
            "total",
        )
    )
    b = {tuple(r) for r in batch.collect()}
    assert got == b
    assert len(got) > 0


def test_asof_join_stream_matches_batch(spark):
    """Streaming as-of (stateful enrichment) ≡ batch asof_join, left mode."""
    from dftly_spark.ops import asof_join, asof_join_stream

    ev_stream = stream_table(spark, SF_DIR, "events")
    left_s = ev_stream.where(F.col("event_type") == "purchase")
    right_s = ev_stream.where(F.col("event_type") == "click")
    got = _run_to_memory(
        spark,
        asof_join_stream(left_s, right_s, on="ts", by="user_id",
                         left_id="event_id", right_val="value"),
        "stream_asof",
    )
    ev = _batch_events(spark)
    purch = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    batch = asof_join(purch, clicks, on="ts", by="user_id", how="left")
    b = {
        r.event_id: (
            None if r.ts_right is None else int(r.ts_right.timestamp() * 1e6),
            r.value_right,
        )
        for r in batch.collect()
    }
    g = {r.event_id: (r.right_ts_us, r.right_value) for r in got.collect()}
    assert g == b


def test_asof_join_stream_state_is_bounded(spark):
    """The stateful operator keeps one (ts, value) pair per key — assert the
    state schema is the fixed 2-field struct, not a buffer."""
    from dftly_spark.ops.joins import _ASOF_STATE

    assert [f.name for f in _ASOF_STATE.fields] == ["right_ts_us", "right_value"]


def test_stream_static_broadcast_enrichment(spark):
    """Stream-static dimension join: the static side broadcasts, the stream
    never shuffles — the standard streaming enrichment shape."""
    ev = stream_table(spark, SF_DIR, "events")
    users = spark.range(200).select(
        F.col("id").alias("user_id"), (F.col("id") % 5).alias("cohort")
    )
    joined = ev.join(F.broadcast(users), "user_id", "left")
    got = _run_to_memory(spark, joined, "stream_static")
    batch = _batch_events(spark).join(F.broadcast(users), "user_id", "left")
    assert got.count() == batch.count()
    assert {(r.event_id, r.cohort) for r in got.select("event_id", "cohort").collect()} == {
        (r.event_id, r.cohort) for r in batch.select("event_id", "cohort").collect()
    }


def test_stream_minhash_dedup_matches_batch_index_join(spark):
    """Streaming near-dedup against the persisted index == the batch
    ingest join (as a pair set — stateless streaming emits one row per
    colliding band), and the row-local shingle hashes are bit-compatible
    with the index build's window formulation."""
    from dftly_spark.ops import minhash_index, minhash_join_index, shingle_hashes
    from dftly_spark.ops.dedup import _minhash_per_doc
    from dftly_spark.streaming import stream_minhash_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    new_batch = docs.where(F.col("doc_id") % 2 == 1)

    # bit-compat: row-local hashes == the window-built per-doc sets
    row_local = {
        r.doc_id: frozenset(r.gs)
        for r in new_batch.select(
            "doc_id", shingle_hashes(F.col("text"), 3).alias("gs")
        ).collect()
    }
    windowed = {
        r._id: frozenset(r._gs)
        for r in _minhash_per_doc(new_batch, "doc_id", "text", 3, 32)
        .select("_id", "_gs")
        .collect()
    }
    assert row_local == windowed

    banded, sets = minhash_index(corpus, "doc_id", "text")
    want = {
        (r.new_id, r.corpus_id, round(r.jaccard, 12))
        for r in minhash_join_index(
            new_batch, banded, sets, "doc_id", "text", threshold=0.7
        ).collect()
    }

    stream = stream_table(spark, SF_DIR, "documents").where(
        F.col("doc_id") % 2 == 1
    )
    out = stream_minhash_dedup(stream, banded, sets, "doc_id", "text", threshold=0.7)
    assert out.isStreaming
    got_rows = _run_to_memory(spark, out, "stream_mh_dedup").collect()
    got = {(r.new_id, r.corpus_id, round(r.jaccard, 12)) for r in got_rows}
    assert got == want
    assert len(want) > 0


def test_hopping_agg_matches_batch(spark):
    from dftly_spark.streaming import hopping_agg

    stream = stream_table(spark, SF_DIR, "events")
    windowed = hopping_agg(
        stream,
        "ts",
        window="1 hour",
        slide="30 minutes",
        watermark="2 hours",
        keys=["event_type"],
        aggs={"n": F.count(F.lit(1))},
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("stream_hop")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table("stream_hop").collect()}
    b = {
        tuple(r)
        for r in hopping_agg(
            _batch_events(spark),
            "ts",
            window="1 hour",
            slide="30 minutes",
            watermark="2 hours",
            keys=["event_type"],
            aggs={"n": F.count(F.lit(1))},
        ).collect()
    }
    assert got == b and len(got) > 0
    # every row lands in exactly window/slide = 2 windows
    n_events = _batch_events(spark).count()
    assert sum(r[-1] for r in got) == 2 * n_events


def test_stream_zscore_matches_batch_and_cold_start(spark):
    """Fit-offline/score-online anomaly twin: streaming scores equal the
    same function applied to the bounded frame, and unseen keys emit
    null/False instead of crashing or fake zeros."""
    from dftly_spark.streaming import baseline_stats, stream_zscore

    events = _batch_events(spark)
    # fit on half the keys only -> the other half exercises cold-start
    base = baseline_stats(
        events.where(F.col("event_type").isin("click", "view")),
        "event_type",
        "value",
    )
    stream = stream_table(spark, SF_DIR, "events")
    scored = stream_zscore(stream, base, "event_type", "value", z_threshold=1.5)
    assert scored.isStreaming
    got = _run_to_memory(
        spark, scored.select("event_id", "zscore", "is_anomaly"), "stream_z"
    )
    batch = stream_zscore(events, base, "event_type", "value", z_threshold=1.5)
    b = {r["event_id"]: (r["zscore"], r["is_anomaly"]) for r in
         batch.select("event_id", "zscore", "is_anomaly").collect()}
    g = {r["event_id"]: (r["zscore"], r["is_anomaly"]) for r in got.collect()}
    assert g == b
    # cold-start: keys outside the baseline are null/False
    other = {r["event_id"] for r in
             events.where(~F.col("event_type").isin("click", "view"))
             .select("event_id").collect()}
    assert other and all(g[i] == (None, False) for i in other)
    # some baseline-covered rows actually flag at this threshold
    assert any(flag for _, flag in g.values())


def test_session_spans_native_matches_merge_intervals_and_streams(spark):
    """Native session_window spans == merge_intervals over [ts, ts+gap)
    intervals (batch), and the same helper runs on the unbounded stream
    with watermarked state eviction."""
    from dftly_spark.ops import merge_intervals
    from dftly_spark.streaming import session_spans

    events = _batch_events(spark)
    gap_us = 15 * 60 * 1_000_000

    native = session_spans(events, "user_id", "ts", gap="15 minutes")
    us = F.unix_micros("ts")
    manual = merge_intervals(
        events.select("user_id", us.alias("s"), (us + gap_us).alias("e")),
        "user_id",
        "s",
        "e",
        count_col="n_events",
    )
    a = sorted(
        (r["user_id"], r["ss"], r["se"], r["n_events"])
        for r in native.select(
            "user_id",
            F.unix_micros("span_start").alias("ss"),
            F.unix_micros("span_end").alias("se"),
            "n_events",
        ).collect()
    )
    b = sorted(
        (r["user_id"], r["span_start"], r["span_end"], r["n_events"])
        for r in manual.collect()
    )
    assert a == b

    stream = session_spans(
        stream_table(spark, SF_DIR, "events"),
        "user_id",
        "ts",
        gap="15 minutes",
        watermark="1 hour",
    )
    assert stream.isStreaming
    got = _run_to_memory(spark, stream, "stream_sessions")
    g = sorted(
        (r["user_id"], r["ss"], r["se"], r["n_events"])
        for r in got.select(
            "user_id",
            F.unix_micros("span_start").alias("ss"),
            F.unix_micros("span_end").alias("se"),
            "n_events",
        ).collect()
    )
    # append mode emits a session only once the watermark passes its end:
    # emitted sessions match the batch spans exactly, and the only ones
    # withheld are those still inside the final 1-hour watermark horizon
    assert set(g) <= set(a)
    # final watermark = max EVENT time - 1h; span ends sit gap past their
    # last event, so the eviction horizon in span-end terms is
    # max(se) - gap - 1h
    horizon = max(se for _, _, se, _ in a) - gap_us - 3_600_000_000
    withheld = set(a) - set(g)
    assert withheld and all(se > horizon for _, _, se, _ in withheld)


def test_maintain_minhash_index_grows_and_screens(spark, tmp_path):
    """foreachBatch index maintenance: streamed documents land in the
    persisted index; with dedup_first, near-duplicates of the existing
    corpus are refused admission."""
    from dftly_spark.ops.dedup import minhash_index
    from dftly_spark.streaming import maintain_minhash_index

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    base = docs.where(F.col("doc_id") % 2 == 0)
    arriving = docs.where(F.col("doc_id") % 2 == 1)
    # arriving stream also carries VERBATIM copies of 5 base docs
    copies = base.limit(5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang",
        "source", "n_chars",
    )
    arriving = arriving.unionByName(copies)

    banded_path = str(tmp_path / "banded")
    sets_path = str(tmp_path / "sets")
    b0, s0 = minhash_index(base, "doc_id", "text")
    b0.write.parquet(banded_path)
    s0.write.parquet(sets_path)

    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    arriving.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "batch1"))
    stream = (
        spark.readStream.schema(arriving.schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src_dir))
    )
    q = maintain_minhash_index(
        stream,
        "doc_id",
        "text",
        banded_path=banded_path,
        sets_path=sets_path,
        checkpoint=str(tmp_path / "ckpt"),
        dedup_first=(
            spark.read.parquet(banded_path),
            spark.read.parquet(sets_path),
        ),
    )
    q.awaitTermination(180)

    indexed_ids = {
        r["doc_id"] for r in spark.read.parquet(sets_path).select("doc_id").collect()
    }
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    novel_ids = {r["doc_id"] for r in arriving.select("doc_id").collect()
                 if r["doc_id"] < 1_000_000}
    # all base docs still indexed, all novel arrivals admitted
    assert base_ids <= indexed_ids
    assert novel_ids <= indexed_ids
    # the verbatim copies were screened out
    assert not any(i >= 1_000_000 for i in indexed_ids)


def test_windowed_heavy_hitters_stream_matches_batch(spark):
    from dftly_spark.streaming import windowed_heavy_hitters

    stream = stream_table(spark, SF_DIR, "events")
    hh = windowed_heavy_hitters(
        stream, "ts", "user_id", window="1 hour", watermark="2 hours",
        min_count=2,
    )
    q = (
        hh.writeStream.format("memory")
        .queryName("stream_hh")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table("stream_hh").collect()}

    batch = windowed_heavy_hitters(
        _batch_events(spark), "ts", "user_id", window="1 hour", min_count=2
    )
    assert got == {tuple(r) for r in batch.collect()}
    assert len(got) > 0


def test_windowed_heavy_hitters_topk_rejected_on_stream(spark):
    from dftly_spark.streaming import windowed_heavy_hitters

    stream = stream_table(spark, SF_DIR, "events")
    with pytest.raises(ValueError, match="top_k"):
        windowed_heavy_hitters(stream, "ts", "user_id", top_k=3)


def test_windowed_cardinality_stream_matches_batch_hll(spark):
    from dftly_spark.streaming import windowed_cardinality

    stream = stream_table(spark, SF_DIR, "events")
    # approx=None auto-selects HLL++ on the stream
    wc = windowed_cardinality(
        stream, "ts", "user_id", keys=["event_type"], window="1 hour",
        watermark="2 hours",
    )
    q = (
        wc.writeStream.format("memory")
        .queryName("stream_card")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table("stream_card").collect()}

    # HLL registers are order-independent -> batch approx twin is identical
    batch = windowed_cardinality(
        _batch_events(spark), "ts", "user_id", keys=["event_type"],
        window="1 hour", approx=True,
    )
    assert got == {tuple(r) for r in batch.collect()}
    assert len(got) > 0
    # and the exact batch mode stays within HLL error of the sketch
    exact = {
        (r["window_start"], r["event_type"]): r["nd_user_id"]
        for r in windowed_cardinality(
            _batch_events(spark), "ts", "user_id", keys=["event_type"],
            window="1 hour", approx=False,
        ).collect()
    }
    for r in spark.table("stream_card").collect():
        e = exact[(r["window_start"], r["event_type"])]
        assert abs(r["nd_user_id"] - e) <= max(2, 0.15 * e)


def test_windowed_cardinality_exact_rejected_on_stream(spark):
    from dftly_spark.streaming import windowed_cardinality

    stream = stream_table(spark, SF_DIR, "events")
    with pytest.raises(ValueError, match="exact distinct"):
        windowed_cardinality(stream, "ts", "user_id", approx=False)


def test_debounce_stream_matches_batch(spark):
    from dftly_spark.ops import debounce, debounce_stream

    stream = stream_table(spark, SF_DIR, "events")
    out = debounce_stream(
        stream, "user_id", "ts", "event_id",
        value_cols=["event_type"], within_micros=1_800_000_000,
    )
    got = {
        (r["event_id"], r["user_id"])
        for r in _run_to_memory(spark, out, "stream_debounce").collect()
    }
    batch = debounce(
        _batch_events(spark).select("event_id", "user_id", "ts", "event_type"),
        "user_id", "ts", value_cols=["event_type"],
        within_micros=1_800_000_000, order_cols=["event_id"],
    )
    want = {(r["event_id"], r["user_id"]) for r in batch.collect()}
    assert got == want
    assert len(got) > 0


def test_debounce_stream_string_keys_and_ids(spark, tmp_path):
    import datetime as dt

    from dftly_spark.ops import debounce_stream

    t0 = dt.datetime(2024, 1, 1)
    src = spark.createDataFrame(
        [("e1", "dev-a", t0, "x"), ("e2", "dev-a", t0 + dt.timedelta(seconds=0.1), "x"),
         ("e3", "dev-b", t0, "x")],
        "event_id string, user_id string, ts timestamp, v string",
    )
    path = str(tmp_path / "sk")
    src.write.parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    out = debounce_stream(
        stream, "user_id", "ts", "event_id",
        value_cols=["v"], within_micros=1_000_000,
    )
    got = {(r["event_id"], r["user_id"]) for r in
           _run_to_memory(spark, out, "stream_deb_str").collect()}
    assert got == {("e1", "dev-a"), ("e3", "dev-b")}  # e2 is a burst repeat


def test_asof_join_stream_tws_matches_batch(spark):
    """transformWithStateInPandas twin of the streaming as-of (Spark 4 API,
    RocksDB state), mirroring the sessionize twin's parity test."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    # the transformWithState state-server protocol runs over protobuf;
    # absent in this container, so the twin runs only on real deployments
    pytest.importorskip("google.protobuf")
    from dftly_spark.ops import asof_join, asof_join_stream_tws

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev_stream = stream_table(spark, SF_DIR, "events")
        got = _run_to_memory(
            spark,
            asof_join_stream_tws(
                ev_stream.where(F.col("event_type") == "purchase"),
                ev_stream.where(F.col("event_type") == "click"),
                on="ts", by="user_id", left_id="event_id", right_val="value",
            ),
            "stream_asof_tws",
        )
        ev = _batch_events(spark)
        batch = asof_join(
            ev.where(F.col("event_type") == "purchase").select(
                "event_id", "user_id", "ts"
            ),
            ev.where(F.col("event_type") == "click").select(
                "user_id", "ts", "value"
            ),
            on="ts", by="user_id", how="left",
        )
        b = {
            r.event_id: (
                None if r.ts_right is None else int(r.ts_right.timestamp() * 1e6),
                r.value_right,
            )
            for r in batch.collect()
        }
        g = {r.event_id: (r.right_ts_us, r.right_value) for r in got.collect()}
        assert g == b
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_asof_stream_twins_share_one_loop():
    """Both state APIs must route through _asof_loop — one definition, so
    ordering/state semantics cannot drift between the twins."""
    import inspect

    from dftly_spark.ops import joins

    assert "_asof_loop(" in inspect.getsource(joins._asof_stream_func)
    assert "_asof_loop(" in inspect.getsource(joins.asof_join_stream_tws)


def test_windowed_quantiles_stream_twin(spark):
    """Stream path (mergeable percentile_approx state) vs batch exact:
    identical windows/keys/counts, and each approx quantile within the
    Greenwald-Khanna rank-error bound of the exact value (at the default
    accuracy and these window sizes the summary never compresses, so the
    values are exact order statistics — assert closeness, pin structure)."""
    from dftly_spark.streaming import windowed_quantiles

    ev = _batch_events(spark)
    batch = windowed_quantiles(
        ev, "ts", "value", keys=["event_type"], window="1 hour",
        probs=(0.5, 0.9), approx=False,
    )
    stream = windowed_quantiles(
        stream_table(spark, SF_DIR, "events"), "ts", "value",
        keys=["event_type"], window="1 hour", probs=(0.5, 0.9),
    )
    # complete mode: append would hold back the final (never-closed)
    # window — same convention as test_windowed_agg_matches_batch
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_wq")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("stream_wq")
    b = {
        (r["window_start"], r["event_type"]): r for r in batch.collect()
    }
    g = {(r["window_start"], r["event_type"]): r for r in got.collect()}
    assert set(b) == set(g) and len(b) > 0
    # percentile_approx returns an actual data point whose RANK is within
    # the summary's error of the target — assert exactly that, against the
    # window's own sorted values
    import math

    vals_by_win = {}
    for r in ev.select(
        F.window("ts", "1 hour").alias("w"), "event_type", "value"
    ).collect():
        vals_by_win.setdefault((r["w"]["start"], r["event_type"]), []).append(
            r["value"]
        )
    import bisect

    for k in b:
        assert b[k]["n"] == g[k]["n"]
        vals = sorted(v for v in vals_by_win[k] if v is not None)
        n = len(vals)
        for p, q in ((0.5, "p50"), (0.9, "p90")):
            assert g[k][q] in vals, (k, q)
            # a tied value spans a RANK RANGE; the GK guarantee is about
            # the closest rank in that range, not the first occurrence
            lo_r = bisect.bisect_left(vals, g[k][q])
            hi_r = bisect.bisect_right(vals, g[k][q]) - 1
            target = p * (n - 1)
            rank = min(max(target, lo_r), hi_r)
            assert abs(rank - target) <= max(2, math.ceil(n * 0.01)), (k, q)


def test_windowed_quantiles_exact_rejected_on_stream(spark):
    from dftly_spark.streaming import windowed_quantiles

    with pytest.raises(ValueError, match="unsupported on streams"):
        windowed_quantiles(
            stream_table(spark, SF_DIR, "events"), "ts", "value", approx=False
        )


def test_session_window_stats_batch_parity_and_merge(spark):
    """The native session_window twin: merged sessions agree with the
    custom sessionize-based session_stats on span and depth (away from
    the exact-gap boundary, where the two conventions differ by design)."""
    import datetime as dt

    from dftly_spark.ops import session_stats
    from dftly_spark.streaming import session_window_stats

    t = lambda m, s=0: dt.datetime(2024, 1, 1, 10, m, s)  # noqa: E731
    df = spark.createDataFrame(
        [
            (1, 1, t(0)), (2, 1, t(10)), (3, 1, t(20)),   # one session
            (4, 1, t(59)),                                 # new session
            (5, 2, t(0)), (6, 2, t(5)),                    # user 2
        ],
        "event_id long, user_id long, ts timestamp",
    )
    native = {
        (r["user_id"], r["session_start_us"]): (r["n_events"], r["session_end_us"])
        for r in session_window_stats(
            df, "ts", keys=["user_id"], gap="30 minutes"
        ).collect()
    }
    custom = {
        (r["user_id"], r["start_us"]): (r["n_events"], r["end_us"])
        for r in session_stats(df, gap_micros=30 * 60 * 1_000_000).collect()
    }
    assert set(native) == set(custom)
    gap_us = 30 * 60 * 1_000_000
    for k, (n_native, end_native) in native.items():
        n_custom, end_custom = custom[k]
        assert n_native == n_custom
        # native end = last event + gap; custom end = last event
        assert end_native == end_custom + gap_us


def test_session_window_stats_streaming(spark, tmp_path):
    """The same aggregation runs as a watermarked stream (availableNow)."""
    import datetime as dt

    from dftly_spark.streaming import session_window_stats

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)  # noqa: E731
    src = spark.createDataFrame(
        [(1, 1, t(0)), (2, 1, t(10)), (3, 1, t(59)), (4, 2, t(0))],
        "event_id long, user_id long, ts timestamp",
    )
    path = str(tmp_path / "events")
    src.write.parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    out = session_window_stats(
        stream, "ts", keys=["user_id"], gap="30 minutes", watermark="0 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sw_stats")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["n_events"])
        for r in spark.table("sw_stats").collect()
    }
    # append mode emits only watermark-closed sessions: with zero
    # watermark delay everything ending before the max event time (10:59)
    # closes — user 1's first session (2 events) and user 2's singleton;
    # the session still open at 10:59 is correctly withheld
    assert got == {(1, 2), (2, 1)}


def test_stateful_soak_state_plateaus(spark):
    """Short-haul twin of scripts/streaming_soak.py (the committed
    100-batch r07 soak log): over a FIXED key universe the O(1)-per-key
    stateful operators' state stores PLATEAU at n_keys rows while
    micro-batches keep flowing — max(numRowsTotal) never exceeds the key
    count and the tail is flat."""
    import sys

    sys.path.insert(0, "scripts")
    import streaming_soak as soak

    for fn in (soak.soak_asof, soak.soak_sessionize):
        totals = fn(spark, 8)
        assert len(totals) == 8
        assert max(totals) <= soak.N_KEYS, totals
        assert len(set(totals[-2:])) == 1, totals


def test_stream_fuzzy_join_matches_batch(spark):
    """Streaming prefix-filter entity resolution against the persisted
    index == the batch fuzzy_join pair set (stateless streaming emits one
    row per shared prefix hash), and an out-of-range threshold is
    rejected."""
    import pytest as _pytest

    from dftly_spark.ops import fuzzy_index, fuzzy_join
    from dftly_spark.streaming import stream_fuzzy_join

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    new_batch = docs.where(F.col("doc_id") % 2 == 1)

    want = {
        (r.id_l, r.id_r, round(r.jaccard, 12))
        for r in fuzzy_join(
            new_batch, corpus, "doc_id", "text", n=3, threshold=0.8
        ).collect()
    }

    prefix, sets = fuzzy_index(corpus, "doc_id", "text", n=3, threshold=0.8)
    stream = stream_table(spark, SF_DIR, "documents").where(F.col("doc_id") % 2 == 1)
    out = stream_fuzzy_join(stream, prefix, sets, "doc_id", "text", n=3, threshold=0.8)
    assert out.isStreaming
    got_rows = _run_to_memory(spark, out, "stream_fuzzy").collect()
    got = {(r.new_id, r.corpus_id, round(r.jaccard, 12)) for r in got_rows}
    assert got == want
    assert len(want) > 0

    with _pytest.raises(ValueError, match="threshold"):
        stream_fuzzy_join(stream, prefix, sets, "doc_id", "text", threshold=0.0)


def test_stream_fuzzy_join_validates_index_build_params(spark):
    """The index carries its build (n, threshold) as constant columns;
    a mismatched shingle width or a query threshold BELOW the build
    threshold raises loudly instead of silently losing recall.  A higher
    query threshold and a params-less legacy index still work."""
    import pytest as _pytest

    from dftly_spark.ops import fuzzy_index
    from dftly_spark.streaming import stream_fuzzy_join

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    prefix, sets = fuzzy_index(docs, "doc_id", "text", n=3, threshold=0.8)
    stream = stream_table(spark, SF_DIR, "documents")

    with _pytest.raises(ValueError, match="shingle widths must match"):
        stream_fuzzy_join(stream, prefix, sets, "doc_id", "text", n=4, threshold=0.8)
    with _pytest.raises(ValueError, match="lose recall"):
        stream_fuzzy_join(stream, prefix, sets, "doc_id", "text", n=3, threshold=0.5)
    # higher-than-build threshold: prefixes are over-long, never lossy
    assert stream_fuzzy_join(
        stream, prefix, sets, "doc_id", "text", n=3, threshold=0.9
    ).isStreaming
    # a params-less (hand-assembled / pre-validation) index skips the check
    legacy = prefix.drop("_idx_n", "_idx_t")
    assert stream_fuzzy_join(
        stream, legacy, sets, "doc_id", "text", n=3, threshold=0.5
    ).isStreaming


def test_stream_fuzzy_join_through_bucketed_index_with_dedup(spark, tmp_path):
    """End-to-end ER ingest closure: fuzzy_index -> bucketed tables ->
    read back -> stream_fuzzy_join -> the PRESCRIBED downstream dedup
    (stateless streaming emits one row per shared prefix hash) == batch
    fuzzy_join pair set, exactly."""
    from dftly_spark.ops import fuzzy_index, fuzzy_join, read_bucketed, write_bucketed
    from dftly_spark.streaming import stream_fuzzy_join

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    new_batch = docs.where(F.col("doc_id") % 2 == 1)

    prefix, sets = fuzzy_index(corpus, "doc_id", "text", n=3, threshold=0.8)
    write_bucketed(prefix, "er_idx_prefix", key="_g")
    write_bucketed(sets, "er_idx_sets", key="doc_id")
    try:
        stream = stream_table(spark, SF_DIR, "documents").where(
            F.col("doc_id") % 2 == 1
        )
        out = stream_fuzzy_join(
            stream,
            read_bucketed(spark, "er_idx_prefix"),
            read_bucketed(spark, "er_idx_sets"),
            "doc_id",
            "text",
            n=3,
            threshold=0.8,
        ).dropDuplicates(["new_id", "corpus_id"])
        assert out.isStreaming
        got_rows = _run_to_memory(spark, out, "stream_fuzzy_bucketed").collect()
        got = sorted((r.new_id, r.corpus_id, round(r.jaccard, 12)) for r in got_rows)
        want = sorted(
            (r.id_l, r.id_r, round(r.jaccard, 12))
            for r in fuzzy_join(
                new_batch, corpus, "doc_id", "text", n=3, threshold=0.8
            ).collect()
        )
        assert got == want and len(want) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS er_idx_prefix")
        spark.sql("DROP TABLE IF EXISTS er_idx_sets")


def test_stream_fuzzy_join_watermarked_dedup_wiring(spark):
    """The PRESCRIBED unbounded-stream wiring: watermarked event time
    carried through stream_fuzzy_join (carry_cols) into
    dropDuplicatesWithinWatermark — per-prefix-hash duplicate emissions
    collapse to one row per pair, equal to the batch pair set."""
    from dftly_spark.ops import fuzzy_index, fuzzy_join
    from dftly_spark.streaming import stream_fuzzy_join

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    new_batch = docs.where(F.col("doc_id") % 2 == 1)

    prefix, sets = fuzzy_index(corpus, "doc_id", "text", n=3, threshold=0.8)
    stream = (
        stream_table(spark, SF_DIR, "documents")
        .where(F.col("doc_id") % 2 == 1)
        .withColumn(
            "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") % 3600)
        )
        .withWatermark("ts", "1 hour")
    )
    out = stream_fuzzy_join(
        stream, prefix, sets, "doc_id", "text", n=3, threshold=0.8,
        carry_cols=("ts",),
    ).dropDuplicatesWithinWatermark(["new_id", "corpus_id"])
    assert out.isStreaming and "ts" in out.columns
    got_rows = _run_to_memory(spark, out, "stream_fuzzy_wm").collect()
    got = sorted((r.new_id, r.corpus_id, round(r.jaccard, 12)) for r in got_rows)
    assert len(got) == len(set(got))  # the stateful dedup actually deduped
    want = sorted(
        (r.id_l, r.id_r, round(r.jaccard, 12))
        for r in fuzzy_join(
            new_batch, corpus, "doc_id", "text", n=3, threshold=0.8
        ).collect()
    )
    assert got == want and len(want) > 0

    with pytest.raises(ValueError, match="carry_cols"):
        stream_fuzzy_join(
            stream, prefix, sets, "doc_id", "text", n=3, threshold=0.8,
            carry_cols=("jaccard",),
        )


def test_windowed_calibration_matches_batch(spark):
    """Each emitted (window, bin) row equals the batch calibration_curve
    over that window's slice — shared bin expression and exact
    conventions, so values match bit-for-bit."""
    from dftly_spark.ops import calibration_curve
    from dftly_spark.streaming import windowed_calibration

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    from dftly_spark.io import normalize_event_ts

    ev = normalize_event_ts(ev).select(
        "ts", "value", (F.col("event_type") == "purchase").alias("y")
    )
    stream = stream_table(spark, SF_DIR, "events").select(
        "ts", "value", (F.col("event_type") == "purchase").alias("y")
    )
    out = windowed_calibration(
        stream, "ts", "value", "y", window="6 hours", bins=8, lo=0.0, hi=500.0
    )
    assert out.isStreaming
    # complete mode: append would hold back windows the watermark never
    # closes (same convention as the other windowed-agg parity tests)
    q = (
        out.writeStream.format("memory")
        .queryName("stream_calib")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.bin): (r.n, r.n_pos, r.mean_score, r.frac_pos)
        for r in spark.table("stream_calib").collect()
    }
    # batch replay: calibration_curve per 6h tumbling slice
    sliced = ev.withColumn("_w", F.window("ts", "6 hours"))
    want = {}
    for w in [r["_w"] for r in sliced.select("_w").distinct().collect()]:
        part = sliced.where(F.col("_w.start") == w.start).drop("_w")
        for r in calibration_curve(part, "value", "y", bins=8, lo=0.0, hi=500.0).collect():
            want[(w.start, r.bin)] = (r.n, r.n_pos, r.mean_score, r.frac_pos)
    assert got == want and len(want) > 0


# ---------------------------------------------------------------------------
# Restart recovery: stop a stateful query and resume from its checkpoint.
# Each test drives the SAME sink/checkpoint through multiple availableNow
# runs with new source files between runs — the later runs must restore
# per-key state, the watermark, and the file-source position from the
# checkpoint, producing exactly the batch-reference output with no
# duplicated and no lost rows across the restart boundary.
# ---------------------------------------------------------------------------

import datetime as _dt


def _ts(minute, hour=0):
    return _dt.datetime(2024, 1, 1, hour, minute)


def _phase(spark, build_stream, in_dir, ckpt, out_dir, rows, schema):
    """Append ``rows`` as a new source file, then run the streaming query
    built by ``build_stream`` from checkpoint to exhaustion (availableNow)
    into the parquet sink — one stop/restart cycle."""
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(in_dir)
    src = spark.readStream.schema(schema).parquet(in_dir)
    q = (
        build_stream(src)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert not q.isActive


def test_restart_recovery_asof_join_state(spark, tmp_path):
    """applyInPandasWithState as-of join across a restart: phase 1 feeds
    only right-side (click) events, the query stops, phase 2 feeds the
    left-side (purchase) events — enrichment must come from per-key state
    RESTORED from the checkpoint, matching left-join batch semantics."""
    from dftly_spark.ops import asof_join_stream

    schema = "event_id long, user_id long, ts timestamp, value double, event_type string"
    in_dir, ckpt, out_dir = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")

    def build(src):
        return asof_join_stream(
            src.where(F.col("event_type") == "purchase"),
            src.where(F.col("event_type") == "click"),
            on="ts", by="user_id", left_id="event_id", right_val="value",
        )

    _phase(spark, build, in_dir, ckpt, out_dir, [
        (101, 1, _ts(1), 10.0, "click"),
        (102, 1, _ts(5), 20.0, "click"),
        (103, 2, _ts(3), 30.0, "click"),
    ], schema)
    _phase(spark, build, in_dir, ckpt, out_dir, [
        (201, 1, _ts(10), 0.0, "purchase"),
        (202, 2, _ts(12), 0.0, "purchase"),
        (203, 3, _ts(13), 0.0, "purchase"),   # never-seen key: left-join nulls
        (104, 1, _ts(20), 40.0, "click"),
    ], schema)

    got = {
        r["event_id"]: (r["right_ts_us"], r["right_value"])
        for r in spark.read.parquet(out_dir).collect()
    }
    us = lambda m: int(_ts(m).replace(tzinfo=_dt.timezone.utc).timestamp() * 1e6)
    assert got == {
        201: (us(5), 20.0),    # latest phase-1 click for user 1 — restored state
        202: (us(3), 30.0),
        203: (None, None),
    }


def test_restart_recovery_watermarked_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark across a restart: a phase-2 duplicate
    of a phase-1 text (inside the watermark horizon) must be suppressed by
    the RESTORED dedup state — no duplicate, and no phase-2 original lost."""
    from dftly_spark.streaming import stream_exact_dedup

    schema = "doc_id long, text string, ts timestamp"
    in_dir, ckpt, out_dir = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")

    def build(src):
        return stream_exact_dedup(src, "text", ts_col="ts", watermark="1 hour")

    _phase(spark, build, in_dir, ckpt, out_dir, [
        (1, "hello world", _ts(0)),
        (2, "foo bar", _ts(1)),
    ], schema)
    _phase(spark, build, in_dir, ckpt, out_dir, [
        (3, "hello world", _ts(2)),   # duplicate across the restart
        (4, "baz qux", _ts(3)),
    ], schema)

    out = spark.read.parquet(out_dir)
    assert {r["doc_id"] for r in out.collect()} == {1, 2, 4}
    assert out.count() == 3                       # no dup emitted, none lost


def test_restart_recovery_windowed_agg(spark, tmp_path):
    """Watermarked tumbling agg across restarts: a window whose rows SPAN
    the restart must emit once with the combined count (append mode), so
    the window state and the watermark both restore from the checkpoint.
    A third run's flush row advances the watermark past every real window
    so append mode emits them all deterministically."""
    from dftly_spark.streaming import tumbling_agg

    schema = "etype string, ts timestamp, v double"
    in_dir, ckpt, out_dir = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")

    def build(src):
        return tumbling_agg(
            src, "ts", window="10 minutes", watermark="10 minutes",
            keys=["etype"], aggs={"n": F.count(F.lit(1)), "total": F.sum("v")},
        )

    _phase(spark, build, in_dir, ckpt, out_dir, [
        ("a", _ts(1), 1.0), ("a", _ts(2), 2.0),   # W1 [00:00, 00:10)
        ("a", _ts(11), 4.0),                       # W2 [00:10, 00:20) — part 1
    ], schema)
    _phase(spark, build, in_dir, ckpt, out_dir, [
        ("a", _ts(12), 8.0),                       # W2 — part 2, after restart
        ("a", _ts(21), 16.0),                      # W3 [00:20, 00:30)
        ("a", _ts(0, hour=2), 0.0),                # flush: watermark -> 01:50
    ], schema)
    _phase(spark, build, in_dir, ckpt, out_dir, [
        ("a", _ts(0, hour=4), 0.0),                # flush 2: emit everything < 03:50
    ], schema)

    got = {
        (r["window_start"], r["n"], r["total"])
        for r in spark.read.parquet(out_dir).collect()
        if r["window_start"] < _ts(0, hour=1)      # the real (non-flush) windows
    }
    assert got == {
        (_ts(0), 2, 3.0),
        (_ts(10), 2, 12.0),                        # 1 row per phase: spans restart
        (_ts(20), 1, 16.0),
    }
