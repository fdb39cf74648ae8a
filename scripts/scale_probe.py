#!/usr/bin/env python
"""Empirical scaling probe for the heavy operators.

Runs the shuffle-heavy operators at 1x / 2x / 4x the sf0.1 corpus and
prints per-scale wall times, so super-linear blow-ups (the thing that kills
a 100 TB run) show up as a growth RATE, not a guess.  Replicated documents
get a per-replica token suffix (disjoint vocab — the inverted indexes grow
linearly and replicas share no shingles with the originals); replicated
embeddings are dimension-rotated (orthogonal, so each replica reproduces
the original's pairwise-cosine structure without cross-replica near-dups).

Usage: python scripts/scale_probe.py [op ...]   (default: all)
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, ".")

SF_DIR = "/root/testdata/sf0.1"
# override with e.g. SPARK_GRAFT_PROBE_SCALES=1,2,4,8,16 for the join-heavy ops
import os as _os

SCALES = tuple(
    int(x) for x in _os.environ.get("SPARK_GRAFT_PROBE_SCALES", "1,2,4").split(",")
)


def replicate_docs(docs: DataFrame, c: int) -> DataFrame:
    out = docs
    for i in range(1, c):
        out = out.unionByName(
            docs.select(
                (F.col("doc_id") + 1_000_000 * i).alias("doc_id"),
                F.regexp_replace("text", r"(\S+)", f"$1c{i}").alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    return out


def replicate_emb(emb: DataFrame, c: int) -> DataFrame:
    out = emb
    for i in range(1, c):
        v = F.col("embedding")
        rot = F.concat(F.slice(v, i + 1, 64 - i), F.slice(v, 1, i))
        out = out.unionByName(
            emb.select(
                (F.col("vec_id") + 1_000_000 * i).alias("vec_id"),
                rot.alias("embedding"),
            )
        )
    return out


def replicate_events(ev, c):
    """Disjoint user spaces per replica — per-key windows grow in key count,
    never in per-key history, exactly how a larger event stream behaves."""
    out = ev
    for i in range(1, c):
        out = out.unionByName(
            ev.select(
                (F.col("event_id") + 10_000_000 * i).alias("event_id"),
                "ts",
                (F.col("user_id") + 1_000_000 * i).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
    return out


def main() -> None:
    from dftly_spark.ops import (
        bm25_topk,
        containment_pairs,
        dup_ngram_fraction,
        embedding_dup_pairs,
        merge_intervals,
        minhash_dup_pairs,
        ngram_jaccard_pairs,
        pagerank,
        rolling_zscore,
        scd2_history,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qdf = spark.createDataFrame(
        [(1, "spark window agg"), (2, "customer query table"), (3, "hash join merge")],
        "query_id int, query string",
    )

    def _remove_spans(d: DataFrame) -> DataFrame:
        from dftly_spark.ops import remove_dup_ngram_spans

        return remove_dup_ngram_spans(d, "doc_id", "text", n=13)

    def _ks(d: DataFrame) -> DataFrame:
        from dftly_spark.ops import ks_drift

        return ks_drift(d, "n_chars", "lang", "en", "de")

    def _semantic(e: DataFrame) -> DataFrame:
        from dftly_spark.ops import semantic_dedup_pairs

        # centroid count scales with the corpus (the SemDeDup contract) so
        # mean cell size stays constant as data grows
        n = 16 * 4  # sized for the largest probe scale
        return semantic_dedup_pairs(
            e, threshold=0.9, n_centroids=n, strategy="sample", max_cell_size=2000
        )

    def _sparse_cosine(d: DataFrame) -> DataFrame:
        from dftly_spark.ops import sparse_cosine_pairs

        # same df-cap discipline as the contract query; the cap is a
        # per-term bound, so candidate volume grows with true collisions
        return sparse_cosine_pairs(d, threshold=0.6, min_df=2, max_df=300)

    def _clusters(d: DataFrame) -> DataFrame:
        from dftly_spark.ops import dup_clusters, minhash_dup_pairs

        pairs = minhash_dup_pairs(d, "doc_id", "text", n=3, k=32, bands=16, threshold=0.7)
        return dup_clusters(pairs, "id_l", "id_r")

    def probes(d: DataFrame) -> DataFrame:
        return d.where(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 5_000_000).alias("doc_id"),
            F.concat_ws(
                " ", F.slice(F.split(F.col("text"), r"\s+"), 1, 15)
            ).alias("text"),
        )

    OPS = {
        "ngram_jaccard": lambda d, e: ngram_jaccard_pairs(
            d, "doc_id", "text", n=3, threshold=0.7, max_df=100
        ),
        "minhash": lambda d, e: minhash_dup_pairs(
            d, "doc_id", "text", n=3, k=32, bands=16, threshold=0.7
        ),
        "dup_ngram_frac": lambda d, e: dup_ngram_fraction(d, "doc_id", "text", n=13),
        "bm25": lambda d, e: bm25_topk(d, qdf, k=10),
        "containment": lambda d, e: containment_pairs(
            probes(d), d, "doc_id", "text", n=3, threshold=0.8
        ),
        "embedding_lsh": lambda d, e: embedding_dup_pairs(
            e, "vec_id", "embedding", threshold=0.95, method="lsh", dim=64
        ),
        "remove_dup_spans": lambda d, e: _remove_spans(d),
        "ks_drift": lambda d, e: _ks(d),
        "semantic_dedup": lambda d, e: _semantic(e),
        "dup_clusters": lambda d, e: _clusters(d),
        "sparse_cosine": lambda d, e: _sparse_cosine(d),
        # token-budget fill: budget scales with the corpus (via the probe's
        # scale arg) so the KEPT fraction stays constant -- growth should
        # track the tokenize+window cost, i.e. ~linear
        "token_budget": lambda d, e, c: __import__("dftly_spark.ops", fromlist=["token_budget_sample"]).token_budget_sample(
            d, "source", 40_000 * c, seed=3
        ),
    }
    def _intervals(ev):
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        iv = ev.select("user_id", us.alias("s"), (us + 900_000_000).alias("e"))
        return merge_intervals(iv, "user_id", "s", "e")

    def _hh(ev):
        from dftly_spark.streaming import windowed_heavy_hitters

        from dftly_spark.io import normalize_event_ts

        return windowed_heavy_hitters(
            normalize_event_ts(ev), "ts", "user_id",
            window="1 hour", min_count=2, top_k=5,
        )

    def _coocc(ev):
        from dftly_spark.ops import cooccurrence_pmi

        return cooccurrence_pmi(
            ev, "user_id", "event_type", max_items_per_group=10
        )

    def _ewma(ev):
        from dftly_spark.ops import ewma

        return ewma(ev, "user_id", ["ts", "event_id"], "value",
                    alpha=0.3, lookback=20)

    def _nearest(ev):
        from dftly_spark.io import normalize_event_ts
        from dftly_spark.ops import nearest_join

        ev = normalize_event_ts(ev)
        marks = (
            ev.where(F.col("event_id") % 7 == 0)
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("mark_val"))
        )
        return nearest_join(
            ev.select("event_id", "user_id", "ts", "value"), marks,
            on="ts", by="user_id",
        )

    EVENT_OPS = {
        "merge_intervals": _intervals,
        "nearest_join": _nearest,
        "heavy_hitters": _hh,
        "cooccurrence": _coocc,
        "ewma": _ewma,
        "rolling_zscore": lambda ev: rolling_zscore(
            ev, "event_type", ["ts", "event_id"], "value", lookback=50
        ),
        "scd2_history": lambda ev: scd2_history(
            ev.select("user_id", "ts", "event_type", "event_id"),
            "user_id", "ts", ["event_type"], order_cols=["event_id"],
        ),
    }
    # event ops replicate the event stream (disjoint user spaces), not docs
    for _k, _f in EVENT_OPS.items():
        OPS[_k] = (lambda d, e, c, _f=_f: _f(replicate_events(events, c)))

    def _pr_edges(c: int):
        """Disjoint customer-supplier subgraphs per replica: components
        never merge, so rank mass and join volumes scale exactly with c."""
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        pairs = (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .select((F.col("o_custkey") * 2).alias("c"),
                    (F.col("l_suppkey") * 2 + 1).alias("s"))
            .distinct()
        )
        out = None
        for i in range(c):
            off = 10_000_000 * i
            rep = pairs.select((F.col("c") + off).alias("c"),
                               (F.col("s") + off).alias("s"))
            out = rep if out is None else out.unionByName(rep)
        return out.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
            out.select(F.col("s").alias("src"), F.col("c").alias("dst"))
        )

    def _edit(c: int):
        """Disjoint 3-char suffixes per replica: cross-replica distances
        are >= 3 > max_dist, so true pair volume scales linearly with c."""
        from dftly_spark.ops import edit_distance_pairs

        part = spark.read.parquet(f"{SF_DIR}/part.parquet")
        names = part.groupBy("p_name").agg(F.min("p_partkey").alias("nid"))
        out = names.select("nid", "p_name")
        for i in range(1, c):
            out = out.unionByName(
                names.select(
                    (F.col("nid") + 1_000_000 * i).alias("nid"),
                    F.concat(F.col("p_name"), F.lit(f"~{i % 10}" * 3)).alias(
                        "p_name"
                    ),
                )
            )
        return edit_distance_pairs(out, "nid", "p_name", max_dist=2)

    OPS["edit_distance"] = lambda d, e, c: _edit(c)

    # SPARK_GRAFT_PR_CKPT_DIR sets the session checkpoint dir when PageRank
    # is built, which switches lineage truncation (durable_checkpoint) from
    # the executor block store to durable checkpoints (the cluster mode;
    # the 8x probe runs this way — SCALING.md).  The dir stays set for the
    # ops that run after it.
    def _pagerank(c: int):
        if _os.environ.get("SPARK_GRAFT_PR_CKPT_DIR"):
            spark.sparkContext.setCheckpointDir(_os.environ["SPARK_GRAFT_PR_CKPT_DIR"])
        return pagerank(_pr_edges(c), iters=5)

    OPS["pagerank"] = lambda d, e, c: _pagerank(c)
    def _tri_edges(c: int):
        """Disjoint part-id spaces per replica: components never connect, so
        edge, wedge, and triangle volumes all scale exactly with c."""
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        items = li.select("l_orderkey", "l_partkey").distinct()
        o2 = items.select(
            F.col("l_orderkey").alias("_ok2"), F.col("l_partkey").alias("_pk2")
        )
        edges = (
            items.join(
                o2,
                (items["l_orderkey"] == o2["_ok2"])
                & (items["l_partkey"] < o2["_pk2"]),
            )
            .select(F.col("l_partkey").alias("src"), F.col("_pk2").alias("dst"))
            .distinct()
        )
        out = None
        for i in range(c):
            off = 1_000_000 * i
            rep = edges.select(
                (F.col("src") + off).alias("src"), (F.col("dst") + off).alias("dst")
            )
            out = rep if out is None else out.unionByName(rep)
        return out

    def _triangles(c: int):
        from dftly_spark.ops import triangle_count

        return triangle_count(_tri_edges(c))

    OPS["triangles"] = lambda d, e, c: _triangles(c)

    def _interval(ev):
        from dftly_spark.ops import interval_join

        iv = ev.select(
            "event_id", "user_id", F.col("ts").cast("timestamp").alias("start")
        )
        a = iv.where(F.col("event_id") % 2 == 0).withColumn(
            "end", F.col("start") + F.expr("INTERVAL 90 MINUTES")
        )
        b = iv.where(F.col("event_id") % 2 == 1).withColumn(
            "end", F.col("start") + F.expr("INTERVAL 2 HOURS")
        )
        return interval_join(a, b, by="user_id")

    OPS["interval_join"] = lambda d, e, c: _interval(replicate_events(events, c))

    def _resample(ev):
        from dftly_spark.ops import resample_ffill

        return resample_ffill(
            ev, "user_id", "ts", "value", interval="6 hours", order_col="event_id"
        )

    OPS["resample_ffill"] = lambda d, e, c: _resample(replicate_events(events, c))

    def _dsir(d):
        from dftly_spark.ops import dsir_weights

        return dsir_weights(
            d, "doc_id", "text", target_filter=F.col("lang") == "en"
        )

    OPS["dsir"] = lambda d, e: _dsir(d)

    def _kcore(c: int):
        from dftly_spark.ops import kcore

        # k scales with the replica count? No: disjoint replicas keep
        # per-node degree constant, so the SAME k peels identically in
        # every component — work scales with edges only.
        return kcore(_tri_edges(c), 80, max_rounds=8)

    OPS["kcore"] = lambda d, e, c: _kcore(c)

    def _novelty(d):
        from dftly_spark.ops import novelty_scores

        return novelty_scores(d, "doc_id", "text", n=3)

    OPS["novelty"] = lambda d, e: _novelty(d)

    def _source_overlap(d):
        from dftly_spark.ops import source_overlap

        return source_overlap(d, "source", "text", n=3)

    OPS["source_overlap"] = lambda d, e: _source_overlap(d)

    def _session_stats(ev):
        from dftly_spark.io import normalize_event_ts
        from dftly_spark.ops import session_stats

        return session_stats(
            normalize_event_ts(ev), gap_micros=1_800_000_000,
            type_col="event_type",
        )

    OPS["session_stats"] = lambda d, e, c: _session_stats(replicate_events(events, c))

    def _bpe(d):
        from dftly_spark.ops import bpe_learn

        return bpe_learn(d, "text", n_merges=8)

    OPS["bpe_learn"] = lambda d, e: _bpe(d)

    def _basket(c: int):
        """Disjoint order/part id spaces per replica: baskets never merge,
        so pair volume scales exactly with c."""
        from dftly_spark.ops import basket_pairs

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
            "l_orderkey", "l_partkey"
        )
        out = None
        for i in range(c):
            off = 10_000_000 * i
            rep = li.select(
                (F.col("l_orderkey") + off).alias("l_orderkey"),
                (F.col("l_partkey") + off).alias("l_partkey"),
            )
            out = rep if out is None else out.unionByName(rep)
        return basket_pairs(out, "l_orderkey", "l_partkey")

    OPS["basket_pairs"] = lambda d, e, c: _basket(c)

    def _fuzzy(d):
        """Cross-table prefix-filter join: replicas share no vocabulary
        (per-replica token suffixes), so prefix postings lists stay
        constant-length and true pair volume scales exactly with c."""
        from dftly_spark.ops import fuzzy_join

        w = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
        planted = (
            d.where(F.col("doc_id") % 3 == 0)
            .where(F.size(w) > 8)
            .select(
                (F.col("doc_id") + 50_000_000).alias("doc_id"),
                F.concat_ws(" ", F.slice(w, 7, F.size(w))).alias("text"),
            )
        )
        return fuzzy_join(d, planted, "doc_id", "text", n=3, threshold=0.5)

    OPS["fuzzy_join"] = lambda d, e: _fuzzy(d)

    def _pareto(ev):
        from dftly_spark.ops import pareto_front

        # distinct-x per group is bounded by the value grid (~49k cells),
        # so the window input stays constant as the event stream grows —
        # only the pre-aggregation scales with c
        return pareto_front(ev, "value", "user_id", by=["event_type"])

    OPS["pareto_front"] = lambda d, e, c: _pareto(replicate_events(events, c))

    def _substr(d):
        """Exact-substring dedup: replicas carry disjoint vocab, so gram
        occurrence counts and flagged-run volume scale exactly with c —
        growth should track the linear instance stream."""
        from dftly_spark.ops import dedup_substring_spans

        return dedup_substring_spans(d, "doc_id", "text", min_len=20)

    OPS["dedup_substring_spans"] = lambda d, e: _substr(d)

    def _decontam(d):
        """Cross-corpus decontamination with the GATE's probe recipe
        (x140's planted windows, imported so the probe cannot drift from
        the gated semantics).  The probe derives from the replicated
        corpus, so probe grams AND flagged volume both scale with c —
        each replica's windows only match that replica (disjoint vocab),
        keeping the semi-join linear."""
        from dftly_spark.ops import decontaminate_substrings
        from dftly_spark.contract.ext6 import _x140_probe

        return decontaminate_substrings(
            d, _x140_probe(d), "doc_id", "text", min_len=20
        )

    OPS["decontaminate_substrings"] = lambda d, e: _decontam(d)

    wanted = sys.argv[1:] or list(OPS)

    import inspect as _inspect

    def _call(build, d, e, c):
        if len(_inspect.signature(build).parameters) >= 3:
            return build(d, e, c)
        return build(d, e)

    for name in wanted:
        build = OPS[name]
        # warm codegen/JIT on the smallest scale so rates compare cleanly
        _call(build, docs, emb, 1).write.format("noop").mode("overwrite").save()
        times = []
        for c in SCALES:
            d, e = replicate_docs(docs, c), replicate_emb(emb, c)
            t0 = time.perf_counter()
            out = _call(build, d, e, c)
            out.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            # iterative ops cache per-round generations (localCheckpoint);
            # without clearing, scale N+1 measures scale N's block-store
            # churn too (observed: kcore 4x read 56s polluted vs 46s clean)
            spark.catalog.clearCache()
        rates = [times[i] / times[0] for i in range(len(SCALES))]
        print(
            f"{name:16s} "
            + "  ".join(f"{c}x={t:6.2f}s" for c, t in zip(SCALES, times))
            + f"   growth {rates[1]:.2f}/{rates[2]:.2f} (linear=2.00/4.00)"
        )

    spark.stop()


if __name__ == "__main__":
    main()
