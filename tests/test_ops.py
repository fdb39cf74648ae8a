"""Targeted tests for the table-level extension operators."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_exact_dedup_covers_all_rows(spark, docs):
    from dftly_spark.ops import exact_dedup

    out = exact_dedup(docs, "text", "doc_id")
    total = out.agg(F.sum("n_copies")).collect()[0][0]
    assert total == docs.count()


def test_minhash_equals_exact_jaccard(spark, docs):
    from dftly_spark.ops import minhash_dup_pairs, ngram_jaccard_pairs

    exact = {
        (r.id_l, r.id_r)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.7).collect()
    }
    lsh = {
        (r.id_l, r.id_r)
        for r in minhash_dup_pairs(
            docs, "doc_id", "text", n=3, k=32, bands=16, threshold=0.7
        ).collect()
    }
    assert lsh == exact  # verify step makes precision 1.0; recall ≈ 1 at s≈0.97


def test_simhash_pairs_are_near_dups(spark, docs):
    from dftly_spark.ops import ngram_jaccard_pairs, simhash_dup_pairs

    sim = {
        (r.id_l, r.id_r)
        for r in simhash_dup_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    # hamming<=3 simhash pairs should be genuinely similar documents
    exact = {
        (r.id_l, r.id_r)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.5).collect()
    }
    assert sim <= exact
    assert len(sim) > 0  # the planted duplicates collide


def test_embedding_dup_lsh_equals_brute_on_planted_pairs(spark, emb):
    """On a corpus with planted scaled copies (cos ≡ 1), LSH recall is
    structurally 1.0 — brute and lsh must return identical pair sets."""
    from dftly_spark.ops import embedding_dup_pairs

    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    copies = base.where(F.col("vec_id") % 8 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    aug = base.unionByName(copies)
    brute = {
        (r.id_l, r.id_r)
        for r in embedding_dup_pairs(
            aug, "vec_id", "embedding", threshold=0.95, method="brute"
        ).collect()
    }
    lsh = {
        (r.id_l, r.id_r)
        for r in embedding_dup_pairs(
            aug, "vec_id", "embedding", threshold=0.95, method="lsh", dim=64
        ).collect()
    }
    assert lsh == brute
    assert len(brute) == base.where(F.col("vec_id") % 8 == 0).count()


def test_embedding_dup_lsh_empty_input_raises_clearly(spark):
    from dftly_spark.ops import embedding_dup_pairs

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="cannot infer vector dimension"):
        embedding_dup_pairs(empty, "vec_id", "embedding", method="lsh")


def test_lsh_topk_recall_vs_brute(spark, emb):
    from dftly_spark.ops import brute_force_topk, lsh_bucket_topk

    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = brute_force_topk(emb, queries, k=5).collect()
    approx = lsh_bucket_topk(emb, queries, k=5).collect()
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r.query_id, set()).add(r.vec_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    # every query returns candidates, and ANN finds at least part of the true top-5
    for qid, truth in brute_sets.items():
        assert len(approx_sets.get(qid, set()) & truth) >= 1


def test_ivf_kmeans_recall_on_clustered_data(spark):
    """On genuinely clustered data (the case IVF exists for), learned
    centroids recover the cluster structure: nprobe=2 of 8 cells must find
    nearly all true neighbors, and beat the arbitrary first-N centroids."""
    import numpy as np

    from dftly_spark.ops import brute_force_topk
    from dftly_spark.ops.similarity import ivf_topk

    rng = np.random.RandomState(7)
    centers = rng.randn(8, 16) * 3
    points = np.concatenate(
        [c + rng.randn(50, 16) * 0.15 for c in centers]
    )  # 400 points in 8 tight clusters
    df = spark.createDataFrame(
        [(i, [float(x) for x in points[i]]) for i in range(len(points))],
        "vec_id bigint, embedding array<double>",
    )
    queries = df.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = {}
    for r in brute_force_topk(df, queries, k=5).collect():
        truth.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(strategy):
        out = ivf_topk(
            df, queries, k=5, n_centroids=8, nprobe=2, strategy=strategy, kmeans_iters=4
        ).collect()
        per_q = {}
        for r in out:
            per_q.setdefault(r.query_id, set()).add(r.vec_id)
        hits = sum(len(per_q.get(q, set()) & t) for q, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    r_kmeans = recall("kmeans")
    assert r_kmeans >= 0.9
    assert r_kmeans >= recall("first")


def test_ivf_kmeans_recall_on_real_embeddings_sf01(spark):
    """Recall-vs-brute bound for the learned-centroid production path at
    sf0.1 — the exact x56 configuration (kmeans, lowest-id init, 2 iters,
    16 cells, nprobe 4).  Measured 0.98 on the driver testdata; pinned with
    headroom."""
    import os

    path = "/root/testdata/sf0.1/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip("sf0.1 testdata not present")
    from dftly_spark.ops import brute_force_topk
    from dftly_spark.ops.similarity import ivf_topk

    emb = spark.read.parquet(path)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = {}
    for r in brute_force_topk(emb, queries, k=10).collect():
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    out = ivf_topk(
        emb,
        queries,
        k=10,
        n_centroids=16,
        nprobe=4,
        strategy="kmeans",
        kmeans_iters=2,
        kmeans_init="first",
    ).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(per_q.get(q, set()) & t) for q, t in truth.items())
    assert hits / sum(len(t) for t in truth.values()) >= 0.9


def test_repetition_signals_bounds_and_values(spark, docs):
    from dftly_spark.ops import repetition_signals

    out = repetition_signals(docs, "doc_id", "text")
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert r.n_words >= 1
        assert 0.0 < r.ttr <= 1.0
        assert 0.0 < r.top_word_frac <= 1.0
        assert 0.0 <= r.top_bigram_frac <= 1.0
        assert r.mean_word_len > 0
    # hand-check one synthetic doc
    one = spark.createDataFrame([(1, "a b a b a")], "doc_id int, text string")
    r = repetition_signals(one, "doc_id", "text").collect()[0]
    assert r.n_words == 5 and abs(r.ttr - 0.4) < 1e-12
    assert abs(r.top_word_frac - 0.6) < 1e-12
    assert abs(r.top_bigram_frac - 0.5) < 1e-12  # 'a b' twice of 4 bigrams


def test_cross_corpus_dedup_matches_exact_cross_pairs(spark, docs):
    from dftly_spark.ops import cross_corpus_dup_pairs, ngram_jaccard_pairs

    new_batch = docs.where(F.col("doc_id") % 2 == 1)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    got = {
        (r.new_id, r.corpus_id)
        for r in cross_corpus_dup_pairs(
            new_batch, corpus, "doc_id", "text", threshold=0.7
        ).collect()
    }
    # ground truth: exact all-pairs jaccard, restricted to odd-even pairs
    exact = {
        (r.id_l, r.id_r)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.7).collect()
    }
    cross = {
        (a, b) if a % 2 == 1 else (b, a)
        for a, b in exact
        if (a % 2) != (b % 2)
    }
    assert got == cross


def test_multimodal_decode_schema_and_values(spark, docs):
    from dftly_spark.ops import attach_fake_media, decode_media_meta

    out = decode_media_meta(attach_fake_media(docs, "text"), "doc_id")
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "size_bytes", "width", "height", "decoder",
    ]
    rows = out.collect()
    assert len(rows) == docs.count()
    assert all(r.decoder in ("fake", "pil") for r in rows)
    assert all(16 <= r.width < 80 for r in rows)


def test_frame_sampling(spark, docs):
    from dftly_spark.ops import attach_fake_media, sample_frames

    media = attach_fake_media(docs, "text")
    frames = sample_frames(media, every=4, id_col="doc_id")
    per_doc = frames.groupBy("doc_id").count()
    meta = media.select("doc_id", F.col("media_meta.n_frames").alias("nf"))
    joined = per_doc.join(meta, "doc_id").collect()
    for r in joined:
        assert r["count"] == (r.nf + 3) // 4


def test_extension_plans_stay_jvm_side_and_keyed(spark, docs):
    """New extension ops: no Python evaluation, no cartesian products, and
    repetition_signals' aggregation tree collapses onto the window exchange
    (≤2 instance-table shuffles, all map-side combinable)."""
    from dftly_spark.ops import (
        cross_corpus_dup_pairs,
        doc_fingerprints,
        repetition_signals,
    )

    frames = {
        "repetition": repetition_signals(docs, "doc_id", "text"),
        "fingerprints": doc_fingerprints(docs, "doc_id", "text"),
        "cross_dedup": cross_corpus_dup_pairs(
            docs.where(F.col("doc_id") % 2 == 1),
            docs.where(F.col("doc_id") % 2 == 0),
            "doc_id",
            "text",
        ),
    }
    for name, df in frames.items():
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
    rep_plan = frames["repetition"]._jdf.queryExecution().executedPlan().toString()
    assert rep_plan.count("Exchange hashpartitioning") <= 2


def test_resize_images_batch_shape(spark, docs):
    from dftly_spark.ops import attach_fake_media, resize_images

    media = attach_fake_media(docs.limit(20), "text")
    out = resize_images(media, "doc_id", width=8, height=4).collect()
    assert len(out) == 20
    for r in out:
        assert r.out_width == 8 and r.out_height == 4
        assert r.resizer in ("pil", "fake")
        if r.resizer == "fake":
            assert len(r.out_bytes) == 8 * 4  # 1 byte/pixel fake resize
    # deterministic: same input → same bytes
    again = resize_images(media, "doc_id", width=8, height=4).collect()
    assert {(r.doc_id, bytes(r.out_bytes)) for r in out} == {
        (r.doc_id, bytes(r.out_bytes)) for r in again
    }


def test_audio_chunks_cover_all_samples(spark, docs):
    from dftly_spark.ops import attach_fake_media, audio_chunks

    media = attach_fake_media(docs.limit(10), "text")
    chunks = audio_chunks(media, chunk_ms=1000, id_col="doc_id").collect()
    meta = {r.doc_id: r.media_meta.n_samples for r in media.collect()}
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_index)
        assert rows[0].start_sample == 0
        assert rows[-1].end_sample == meta[doc_id]
        for a, b in zip(rows, rows[1:]):
            assert a.end_sample == b.start_sample  # contiguous, no gaps


def test_random_projection_preserves_distances(spark, emb):
    """JL property: with out_dim=32, pairwise distances distort boundedly —
    check correlation between original and projected distances is high."""
    import numpy as np

    from dftly_spark.ops import random_project

    sample = emb.where(F.col("vec_id") < 40)
    proj = random_project(sample, "embedding", out_dim=32, dim=64).collect()
    orig = {r.vec_id: np.array(r.embedding, dtype=float) for r in proj}
    pr = {r.vec_id: np.array(r.projection, dtype=float) for r in proj}
    ids = sorted(orig)
    ratios = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            do = np.linalg.norm(orig[ids[i]] - orig[ids[j]])
            dp = np.linalg.norm(pr[ids[i]] - pr[ids[j]])
            ratios.append(dp / do)
    ratios = np.array(ratios)
    # JL with k=32: per-pair distortion concentrated around 1 with
    # ε ≈ sqrt(c/k); all pairs within a loose 2ε band, mean ≈ 1.
    assert abs(ratios.mean() - 1.0) < 0.1
    assert ratios.min() > 0.4 and ratios.max() < 1.8


def test_no_python_udf_in_text_paths(spark, docs):
    """Text/hash operators must stay JVM-side (no BatchEvalPython)."""
    from dftly_spark.ops import minhash_dup_pairs, quality_score, simhash_dup_pairs

    plan = docs.select(quality_score(F.col("text")))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    for pairs in (
        minhash_dup_pairs(docs, "doc_id", "text"),
        simhash_dup_pairs(docs, "doc_id", "text"),
    ):
        assert "BatchEvalPython" not in pairs._jdf.queryExecution().executedPlan().toString()


def test_json_extract_fields_and_typed_parse(spark):
    from dftly_spark.ops import json_extract_fields, json_parse_typed

    df = spark.createDataFrame(
        [
            (1, '{"k": 7, "tag": "a"}'),
            (2, '{"tag": "b"}'),          # missing k -> null
            (3, "not json"),               # malformed -> null
            (4, None),                     # null in -> null out
        ],
        "id long, props string",
    )
    ex = json_extract_fields(
        df, "props", {"k": ("$.k", "bigint"), "tag": ("$.tag", "string")}
    )
    got = {r.id: (r.k, r.tag) for r in ex.collect()}
    assert got == {1: (7, "a"), 2: (None, "b"), 3: (None, None), 4: (None, None)}

    typed = json_parse_typed(df, "props", "k BIGINT, tag STRING")
    got2 = {r.id: r.props_parsed for r in typed.collect()}
    assert got2[1].k == 7 and got2[1].tag == "a"
    assert got2[2].k is None and got2[2].tag == "b"
    assert got2[4] is None


def test_json_ops_stay_jvm_side(spark):
    from dftly_spark.ops import json_extract_fields

    df = spark.createDataFrame([(1, '{"k": 1}')], "id long, props string")
    plan = (
        json_extract_fields(df, "props", {"k": ("$.k", "bigint")})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan


def test_vocab_topk_counts_and_order(spark, docs):
    from dftly_spark.ops import vocab_topk

    out = vocab_topk(docs, "text", id_col="doc_id", k=10).collect()
    assert len(out) == 10
    # ordered by count desc then gram asc
    counts = [r["count"] for r in out]
    assert counts == sorted(counts, reverse=True)
    # cross-check the #1 gram against a naive count
    import re
    from collections import Counter

    c, docs_with = Counter(), Counter()
    for r in docs.collect():
        toks = re.sub(r"\s+", " ", r.text.lower()).strip().split(" ")
        toks = [t for t in toks if t]
        c.update(toks)
        docs_with.update(set(toks))
    top = out[0]
    assert c[top.gram] == top["count"] == max(c.values())
    assert docs_with[top.gram] == top.n_docs


def test_vocab_topk_bigrams_handle_short_docs(spark):
    from dftly_spark.ops import vocab_topk

    df = spark.createDataFrame(
        [(1, "one"), (2, "a b a b"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {r.gram: r["count"] for r in vocab_topk(df, "text", k=10, n=2).collect()}
    assert out == {"a b": 2, "b a": 1}


def test_hash_split_deterministic_disjoint_exhaustive(spark, docs):
    from dftly_spark.ops import hash_split

    out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    n = docs.count()
    by = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert sum(by.values()) == n  # exhaustive
    # roughly proportional (LCG over sequential ids is near-uniform)
    assert abs(by["train"] / n - 0.8) < 0.05
    # rerun identical, and partition-count independent
    again = hash_split(docs.repartition(7), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert {(r.doc_id, r.split) for r in out.select("doc_id", "split").collect()} == {
        (r.doc_id, r.split) for r in again.select("doc_id", "split").collect()
    }


def test_stratified_sample_nested_across_rates(spark, docs):
    from dftly_spark.ops import stratified_sample

    small = {r.doc_id for r in stratified_sample(docs, "lang", {"en": 0.2}, "doc_id").collect()}
    big = {r.doc_id for r in stratified_sample(docs, "lang", {"en": 0.5}, "doc_id").collect()}
    assert small <= big  # raising a rate only adds documents
    # default_rate=0 drops all non-en
    langs = {r.lang for r in stratified_sample(docs, "lang", {"en": 1.0}, "doc_id").select("lang").distinct().collect()}
    assert langs == {"en"}


def test_sampling_is_row_local(spark, docs):
    from dftly_spark.ops import hash_split

    plan = (
        hash_split(docs, "doc_id", {"a": 0.5, "b": 0.5})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_pack_sequences_covers_all_tokens(spark, docs):
    from dftly_spark.ops import pack_sequences
    from dftly_spark.ops.textops import token_count

    d = docs.withColumn("n_tok", token_count(F.col("text")))
    packed = pack_sequences(d, "doc_id", "n_tok", context_len=128, shards=4)
    rows = packed.collect()
    # every document's tokens are fully covered, in order, no overlap
    total = {r.doc_id: r.n_tok for r in d.select("doc_id", "n_tok").collect()}
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, parts in by_doc.items():
        parts.sort(key=lambda r: r.doc_offset)
        assert parts[0].doc_offset == 0
        assert sum(p.n_tokens for p in parts) == total[doc_id]
        off = 0
        for p in parts:
            assert p.doc_offset == off
            off += p.n_tokens
    # every chunk except each shard's last is exactly full
    chunks = {}
    for r in rows:
        chunks.setdefault((r.shard, r.chunk_id), 0)
        chunks[(r.shard, r.chunk_id)] += r.n_tokens
    last = {}
    for (s, c) in chunks:
        last[s] = max(last.get(s, -1), c)
    for (s, c), n in chunks.items():
        if c != last[s]:
            assert n == 128
        # chunk offsets stay within the window
    for r in rows:
        assert 0 <= r.chunk_offset < 128 and r.chunk_offset + r.n_tokens <= 128


def test_chunk_text_covers_tokens_with_overlap(spark):
    from dftly_spark.ops import chunk_text

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    )
    out = chunk_text(df, "doc_id", "text", chunk_tokens=4, overlap=2)
    rows = sorted(
        ((r.doc_id, r.chunk_idx, r.n_tokens, r.chunk_text) for r in out.collect())
    )
    # doc 1: starts 1,3,5,7 (stride 2, while start <= 10-2) → windows of 4
    d1 = [r for r in rows if r[0] == 1]
    assert [r[3] for r in d1] == [
        "w0 w1 w2 w3", "w2 w3 w4 w5", "w4 w5 w6 w7", "w6 w7 w8 w9",
    ]
    # consecutive chunks share exactly `overlap` tokens
    for a, b in zip(d1, d1[1:]):
        assert a[3].split()[-2:] == b[3].split()[:2]
    # short docs produce one whole-doc chunk
    assert [r[3] for r in rows if r[0] == 2] == ["a b"]
    assert [r[3] for r in rows if r[0] == 3] == ["solo"]


def test_scrub_text_masks_pii(spark):
    from dftly_spark.ops import scrub_text

    df = spark.createDataFrame(
        [(1, "mail me at a.b+c@mail.co or see https://x.io/p?q=1 tel 12345678901")],
        "id long, t string",
    )
    got = df.select(scrub_text(F.col("t")).alias("s")).collect()[0].s
    assert got == "mail me at <EMAIL> or see <URL> tel <NUM>"
    # short digit runs survive
    df2 = spark.createDataFrame([(1, "v1.2 build 1234567")], "id long, t string")
    assert df2.select(scrub_text(F.col("t")).alias("s")).collect()[0].s == "v1.2 build 1234567"


def test_dup_clusters_transitive(spark):
    from dftly_spark.ops import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_l long, id_r long",
    )
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


def test_ann_composes_with_random_projection(spark, emb):
    """Dimensionality reduction then ANN: top-k in the 16-dim JL space
    still recovers most of the exact 64-dim top-k (the point of the JL
    lemma), and every query still finds itself first."""
    from dftly_spark.ops import brute_force_topk, random_project

    proj = random_project(emb, "embedding", out_dim=16, dim=64).select(
        "vec_id", F.col("projection").alias("embedding")
    )
    queries = proj.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    low = brute_force_topk(proj, queries, k=10).collect()
    full_q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, full_q, k=10).collect()
    lo, hi = {}, {}
    for r in low:
        lo.setdefault(r.query_id, set()).add(r.vec_id)
        if r.vec_id == r.query_id:
            assert r.rank == 1
    for r in exact:
        hi.setdefault(r.query_id, set()).add(r.vec_id)
    # These embeddings are near-uniform (max pairwise cos ~0.51), so top-10
    # membership is weakly determined and 16 of 64 dims keeps only part of
    # it — but chance overlap is k^2/N = 0.2, so >=1 mean overlap is still a
    # 5x-over-chance signal that distances survived the projection.
    overlaps = [len(lo[q] & hi[q]) for q in hi]
    assert sum(overlaps) / len(overlaps) >= 1


def test_bm25_exact_phrase_doc_ranks_first(spark):
    """A document that IS the query outranks documents containing only some
    query terms; scores decrease with rank; k caps the output."""
    from dftly_spark.ops import bm25_topk

    rows = [
        (1, "spark window agg"),
        (2, "spark spark spark spark spark spark"),
        (3, "window agg"),
        (4, "customer table order"),
        (5, "the quick brown fox"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    qdf = spark.createDataFrame([(1, "spark window agg")], "query_id int, query string")
    out = bm25_topk(docs, qdf, k=3).collect()
    assert [r.doc_id for r in sorted(out, key=lambda r: r.rank)][0] == 1
    assert len(out) == 3
    scores = [r.score for r in sorted(out, key=lambda r: r.rank)]
    assert scores == sorted(scores, reverse=True)
    assert all(r.doc_id != 5 for r in out)  # no shared term → never retrieved


def test_bm25_idf_downweights_common_terms(spark):
    """A term present in every document contributes less than a rare term
    with the same tf."""
    from dftly_spark.ops import bm25_topk

    rows = [(i, "common filler words here") for i in range(1, 9)]
    rows += [(9, "common rare"), (10, "common only")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    qdf = spark.createDataFrame(
        [(1, "rare"), (2, "common")], "query_id int, query string"
    )
    out = bm25_topk(docs, qdf, k=1).collect()
    by_q = {r.query_id: r for r in out}
    assert by_q[1].doc_id == 9
    assert by_q[1].score > by_q[2].score


def test_tf_idf_vectors_values(spark):
    from dftly_spark.ops import tf_idf_vectors
    import math

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "c c c")], "doc_id int, text string"
    )
    out = {(r.doc_id, r.term): r for r in tf_idf_vectors(docs).collect()}
    assert out[(1, "a")].tf == 2 and out[(1, "a")].df == 2
    assert out[(1, "a")].tf_idf == pytest.approx(2 * math.log(3 / 2))
    assert out[(1, "b")].tf_idf == pytest.approx(math.log(3.0))
    # max_vocab=1: a and c tie at df=2; term-asc tiebreak keeps "a"
    capped = tf_idf_vectors(docs, max_vocab=1)
    assert {r.term for r in capped.collect()} == {"a"}


def test_dup_ngram_fraction_flags_copies(spark):
    from dftly_spark.ops import dup_ngram_fraction

    text = "one two three four five six seven"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "totally different words entirely present")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in dup_ngram_fraction(docs, "doc_id", "text", n=3).collect()}
    assert out[1].dup_frac == 1.0 and out[2].dup_frac == 1.0
    assert out[3].dup_frac == 0.0
    assert out[1].n_grams == 5  # 7 tokens → 5 trigram instances


def test_dup_ngram_fraction_short_docs_whole_text(spark):
    from dftly_spark.ops import dup_ngram_fraction

    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc"), (3, "other")], "doc_id int, text string"
    )
    out = {r.doc_id: r for r in dup_ngram_fraction(docs, "doc_id", "text", n=5).collect()}
    assert out[1].n_grams == 1 and out[1].dup_frac == 1.0
    assert out[3].dup_frac == 0.0


def test_cap_per_group_exact_and_presalted_agree(spark, docs):
    from dftly_spark.ops import cap_per_group

    plain = cap_per_group(docs, "source", k=7, order_col="doc_id")
    salted = cap_per_group(docs, "source", k=7, order_col="doc_id", presalt=4)
    a = {(r.doc_id, r.source) for r in plain.select("doc_id", "source").collect()}
    b = {(r.doc_id, r.source) for r in salted.select("doc_id", "source").collect()}
    assert a == b
    per_src = plain.groupBy("source").count().collect()
    assert all(r["count"] <= 7 for r in per_src)
    # deterministic: the kept ids are the k smallest per source
    mins = {
        r.source: r.ids
        for r in docs.groupBy("source")
        .agg(F.slice(F.array_sort(F.collect_list("doc_id")), 1, 7).alias("ids"))
        .collect()
    }
    for src, ids in mins.items():
        assert {d for d, s in a if s == src} == set(ids)


def test_rollup_stats_levels_sum_consistently(spark, docs):
    from dftly_spark.ops import rollup_stats

    out = rollup_stats(docs, ["lang", "source"], {"chars": F.sum("n_chars")}).collect()
    total = [r for r in out if r.grouping_id == 3]
    assert len(total) == 1 and total[0].n_rows == docs.count()
    lang_rows = [r for r in out if r.grouping_id == 1]
    assert sum(r.n_rows for r in lang_rows) == docs.count()
    leaf = [r for r in out if r.grouping_id == 0]
    assert sum(r.chars for r in leaf) == total[0].chars


def test_containment_flags_embedded_benchmark(spark):
    """A probe buried verbatim inside a long document has low Jaccard but
    containment 1.0 — the case this operator exists for."""
    from dftly_spark.ops import containment_pairs, ngram_jaccard_pairs

    probe_text = "alpha beta gamma delta epsilon"
    long_doc = "x1 x2 x3 " + probe_text + " y1 y2 y3 y4 y5 y6 y7 y8 y9"
    corpus = spark.createDataFrame(
        [(1, long_doc), (2, "totally unrelated words here now")],
        "doc_id int, text string",
    )
    probes = spark.createDataFrame([(100, probe_text)], "doc_id int, text string")
    got = containment_pairs(probes, corpus, "doc_id", "text", n=3, threshold=0.8).collect()
    assert len(got) == 1
    assert (got[0].probe_id, got[0].doc_id, got[0].containment) == (100, 1, 1.0)
    # whole-doc jaccard misses it at any useful threshold
    both = spark.createDataFrame(
        [(100, probe_text), (1, long_doc)], "doc_id int, text string"
    )
    jac = ngram_jaccard_pairs(both, "doc_id", "text", n=3, threshold=0.5).collect()
    assert jac == []


def test_containment_join_mode_matches_broadcast_mode(spark, docs):
    from dftly_spark.ops import containment_pairs

    probes = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), r"\s+"), 1, 15)).alias("text"),
    )
    a = {
        (r.probe_id, r.doc_id, r.containment)
        for r in containment_pairs(probes, docs, "doc_id", "text").collect()
    }
    b = {
        (r.probe_id, r.doc_id, r.containment)
        for r in containment_pairs(
            probes, docs, "doc_id", "text", broadcast_probes=False
        ).collect()
    }
    assert a == b and len(a) > 0


def test_cross_corpus_embedding_dedup_finds_planted_copies(spark, emb):
    """Bipartite LSH recall is structurally 1.0 for positive scalings; no
    within-side pair is ever emitted."""
    from dftly_spark.ops import cross_corpus_embedding_pairs

    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    new_batch = base.where(F.col("vec_id") % 8 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    got = cross_corpus_embedding_pairs(
        new_batch, base, "vec_id", "embedding", threshold=0.95, dim=64
    ).collect()
    planted = {(r.vec_id + 10_000_000, r.vec_id) for r in base.where(F.col("vec_id") % 8 == 0).collect()}
    assert {(r.new_id, r.corpus_id) for r in got} == planted
    assert all(abs(r.cos - 1.0) < 1e-9 for r in got)


def test_remove_dup_spans_cuts_shared_spans_only(spark):
    from dftly_spark.ops import remove_dup_ngram_spans

    shared = "one two three four five"
    docs = spark.createDataFrame(
        [
            (1, shared + " UNIQUE-A tail words here"),
            (2, "head words " + shared + " UNIQUE-B"),
            (3, "independent text with no overlap at all"),
            (4, "short"),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in remove_dup_ngram_spans(docs, "doc_id", "text", n=5).collect()}
    assert out[1].clean_text == "unique-a tail words here"
    assert out[2].clean_text == "head words unique-b"
    assert out[1].n_tokens_removed == 5 and out[2].n_tokens_removed == 5
    assert out[3].n_tokens_removed == 0
    assert out[4].clean_text == "short"  # < n words: passes through whole


def test_remove_dup_spans_fully_duplicated_doc_becomes_empty(spark):
    from dftly_spark.ops import remove_dup_ngram_spans

    text = "a b c d e f g"
    docs = spark.createDataFrame([(1, text), (2, text)], "doc_id int, text string")
    out = {r.doc_id: r for r in remove_dup_ngram_spans(docs, "doc_id", "text", n=3).collect()}
    assert out[1].clean_text == "" and out[1].n_tokens_kept == 0
    assert out[2].n_tokens_removed == 7


def test_dup_substring_spans_maximal_runs(spark):
    from dftly_spark.ops import dup_substring_spans

    shared = "s1 s2 s3 s4 s5 s6 s7 s8"  # 8-token verbatim run
    docs = spark.createDataFrame(
        [
            (1, "ua ub uc " + shared + " ud ue"),
            (2, shared + " vb vc vd"),
            (3, "independent words with no overlap whatsoever here"),
            (4, "tiny"),
        ],
        "doc_id int, text string",
    )
    out = dup_substring_spans(docs, "doc_id", "text", min_len=4).collect()
    got = {(r.doc_id): (r.span_start, r.span_end, r.span_tokens) for r in out}
    # the maximal merged run is the WHOLE 8-token shared block (seeds are
    # 4-grams; chaining must recover the full run, 0-based positions)
    assert got[1] == (3, 10, 8)
    assert got[2] == (0, 7, 8)
    assert set(got) == {1, 2}


def test_dup_substring_spans_counts_within_doc_occurrences(spark):
    from dftly_spark.ops import dup_substring_spans

    # the run repeats INSIDE one document — distinct-doc df is 1, but
    # occurrence count is 2: ExactSubstr semantics must flag it
    docs = spark.createDataFrame(
        [(1, "a b c d X Y a b c d"), (2, "totally different words here now")],
        "doc_id int, text string",
    )
    out = dup_substring_spans(docs, "doc_id", "text", min_len=4).collect()
    got = sorted((r.doc_id, r.span_start, r.span_end) for r in out)
    assert got == [(1, 0, 3), (1, 6, 9)]


def test_dup_substring_spans_gap_splits_runs(spark):
    from dftly_spark.ops import dup_substring_spans

    r1, r2 = "p q r", "x y z"
    docs = spark.createDataFrame(
        [
            (1, r1 + " g1 g2 g3 g4 " + r2),
            (2, r1 + " other stuff entirely " + r2),
        ],
        "doc_id int, text string",
    )
    out = dup_substring_spans(docs, "doc_id", "text", min_len=3).collect()
    got = sorted((r.doc_id, r.span_start, r.span_end) for r in out)
    assert got == [(1, 0, 2), (1, 7, 9), (2, 0, 2), (2, 6, 8)]


def test_dedup_substring_spans_removes_exact_runs(spark):
    from dftly_spark.ops import dedup_substring_spans

    shared = "s1 s2 s3 s4 s5 s6"
    docs = spark.createDataFrame(
        [
            (1, "keep me " + shared + " and me"),
            (2, shared + " survivor"),
            (3, "short"),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in dedup_substring_spans(docs, "doc_id", "text", min_len=4).collect()}
    assert out[1].clean_text == "keep me and me"
    assert out[2].clean_text == "survivor"
    assert out[1].n_tokens_removed == 6 and out[2].n_tokens_removed == 6
    assert out[3].clean_text == "short" and out[3].n_tokens_removed == 0


def test_dedup_substring_min_len_gates_short_duplicates(spark):
    from dftly_spark.ops import dedup_substring_spans

    # duplicated run of 5 tokens is SHORTER than min_len=6: kept verbatim
    shared = "d1 d2 d3 d4 d5"
    docs = spark.createDataFrame(
        [(1, shared + " tail-a"), (2, shared + " tail-b")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in dedup_substring_spans(docs, "doc_id", "text", min_len=6).collect()}
    assert out[1].n_tokens_removed == 0
    assert out[1].clean_text == shared + " tail-a"


def test_contamination_spans_flags_probe_overlap_only(spark):
    from dftly_spark.ops import contamination_spans

    leak = "t1 t2 t3 t4 t5 t6 t7"  # 7-token benchmark string
    train = spark.createDataFrame(
        [
            (1, "intro words " + leak + " outro"),
            (2, "no overlap with the benchmark at all"),
            (3, leak),  # wholly leaked
        ],
        "doc_id int, text string",
    )
    probe = spark.createDataFrame(
        [(100, "prompt: " + leak), (101, "unrelated probe line")],
        "qid int, text string",
    )
    out = contamination_spans(
        train, probe, "doc_id", "text", probe_id_col="qid", min_len=4
    ).collect()
    got = sorted((r.doc_id, r.span_start, r.span_end, r.span_tokens) for r in out)
    assert got == [(1, 2, 8, 7), (3, 0, 6, 7)]


def test_contamination_ignores_short_probe_strings(spark):
    from dftly_spark.ops import contamination_spans

    train = spark.createDataFrame([(1, "a b c d e f")], "doc_id int, text string")
    # probe holds only a 3-token string: cannot contain a 4-token run
    probe = spark.createDataFrame([(9, "a b c")], "doc_id int, text string")
    assert contamination_spans(train, probe, "doc_id", "text", min_len=4).count() == 0


def test_decontaminate_substrings_cuts_and_passes_through(spark):
    from dftly_spark.ops import decontaminate_substrings

    leak = "l1 l2 l3 l4 l5"
    train = spark.createDataFrame(
        [(1, "keep " + leak + " rest"), (2, "clean document here")],
        "doc_id int, text string",
    )
    probe = spark.createDataFrame([(7, "x " + leak + " y")], "doc_id int, text string")
    out = {
        r.doc_id: r
        for r in decontaminate_substrings(
            train, probe, "doc_id", "text", min_len=5
        ).collect()
    }
    assert out[1].clean_text == "keep rest" and out[1].n_tokens_removed == 5
    assert out[2].clean_text == "clean document here" and out[2].n_tokens_removed == 0


def _brute_covered_positions(token_lists, L, flagged):
    """Expected maximal spans per doc: positions covered by any flagged
    L-gram start, merged into contiguous runs."""
    spans = {}
    for i, ws in enumerate(token_lists):
        cov = set()
        for p in range(len(ws) - L + 1):
            if flagged(i, p, tuple(ws[p : p + L])):
                cov.update(range(p, p + L))
        runs, cur = [], None
        for p in sorted(cov):
            if cur and p == cur[1] + 1:
                cur[1] = p
            else:
                cur = [p, p]
                runs.append(cur)
        if runs:
            spans[i] = [(a, b, b - a + 1) for a, b in runs]
    return spans


def test_dup_substring_spans_randomized_bruteforce(spark):
    """Seeded random corpora vs the literal definition: a position is in a
    span iff covered by an L-gram occurring >= 2 times corpus-wide (by
    position count, within-doc included), spans = maximal covered runs."""
    import random
    from collections import Counter

    from dftly_spark.ops import dup_substring_spans

    rng = random.Random(42)
    for trial in range(5):
        L = rng.choice([2, 3, 4])
        docs = [
            [rng.choice("abcd") for _ in range(rng.randint(0, 14))]
            for _ in range(10)
        ]
        counts = Counter(
            tuple(ws[p : p + L])
            for ws in docs
            for p in range(len(ws) - L + 1)
        )
        want = _brute_covered_positions(
            docs, L, lambda i, p, g: counts[g] >= 2
        )
        df = spark.createDataFrame(
            [(i, " ".join(ws)) for i, ws in enumerate(docs)],
            "doc_id int, text string",
        )
        got = {}
        for r in dup_substring_spans(df, "doc_id", "text", min_len=L).collect():
            got.setdefault(r.doc_id, []).append(
                (r.span_start, r.span_end, r.span_tokens)
            )
        got = {k: sorted(v) for k, v in got.items()}
        assert got == want, (trial, L, docs)


def test_span_char_offsets_map_to_original_text(spark):
    """offsets="char" returns positions into the ORIGINAL text: slicing
    text[char_start:char_end] yields exactly the duplicated run as it
    appears raw (mixed case, irregular/leading/trailing whitespace), per
    a re.finditer reference mapping."""
    import random
    import re

    from dftly_spark.ops import contamination_spans, dup_substring_spans

    rng = random.Random(7)

    def gap():
        # real-corpus whitespace: spaces, tabs, newlines (trim() strips
        # only spaces — a \t/\n-leading doc once shifted every offset)
        return "".join(rng.choice(" \t\n") for _ in range(rng.randint(1, 3)))

    def messy(ws):
        # random casing + mixed-whitespace gaps + optional leading/trailing
        parts = [w.upper() if rng.random() < 0.4 else w for w in ws]
        s = ""
        if rng.random() < 0.5:
            s += gap()
        for i, p in enumerate(parts):
            if i:
                s += gap()
            s += p
        if rng.random() < 0.5:
            s += gap()
        return s

    for trial in range(4):
        L = rng.choice([2, 3])
        docs = [
            [rng.choice("abcd") for _ in range(rng.randint(0, 12))]
            for _ in range(8)
        ]
        texts = {i: messy(ws) for i, ws in enumerate(docs)}
        df = spark.createDataFrame(
            list(texts.items()), "doc_id int, text string"
        )
        tok_spans = {
            (r.doc_id, r.span_start, r.span_end): r.span_tokens
            for r in dup_substring_spans(
                df, "doc_id", "text", min_len=L
            ).collect()
        }
        char_rows = dup_substring_spans(
            df, "doc_id", "text", min_len=L, offsets="char"
        ).collect()
        assert len(char_rows) == len(tok_spans)
        seen = set()
        for r in char_rows:
            text = texts[r.doc_id]
            toks = [m for m in re.finditer(r"\S+", text)]
            # the char row must correspond to exactly one token span via
            # the finditer reference mapping
            match = [
                (d, s, e)
                for (d, s, e) in tok_spans
                if d == r.doc_id
                and toks[s].start() == r.char_start
                and toks[e].end() == r.char_end
            ]
            assert len(match) == 1, (r, text)
            seen.add(match[0])
            d, s, e = match[0]
            # and the raw slice lower/collapses to the run's tokens
            sliced = text[r.char_start:r.char_end]
            assert re.split(r"\s+", sliced.lower()) == [
                w.lower() for w in re.findall(r"\S+", text)[s : e + 1]
            ]
            assert r.span_tokens == tok_spans[match[0]]
        assert seen == set(tok_spans)
        # cross-corpus variant shares the mapping helper; spot-check shape
        probe = spark.createDataFrame(
            [(100, " ".join(docs[0]))], "doc_id int, text string"
        )
        cont = contamination_spans(
            df, probe, "doc_id", "text", min_len=L, offsets="char"
        )
        assert cont.columns == ["doc_id", "char_start", "char_end", "span_tokens"]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="offsets"):
        dup_substring_spans(df, "doc_id", "text", min_len=2, offsets="byte")


def test_dedup_substrings_char_removes_raw_ranges(spark):
    """dedup_substrings_char cuts exactly the char spans out of the
    ORIGINAL text (casing/whitespace elsewhere untouched): equals the
    Python-reference removal built from the offsets="char" spans, and
    untouched documents pass through whole with n_chars_removed=0."""
    import random

    from dftly_spark.ops import dedup_substrings_char, dup_substring_spans

    rng = random.Random(31)

    def gap():
        return "".join(rng.choice(" \t\n") for _ in range(rng.randint(1, 3)))

    def messy(ws):
        parts = [w.upper() if rng.random() < 0.4 else w for w in ws]
        s = gap() if rng.random() < 0.5 else ""
        for i, p in enumerate(parts):
            if i:
                s += gap()
            s += p
        if rng.random() < 0.5:
            s += gap()
        return s

    for trial in range(3):
        L = rng.choice([2, 3])
        docs = [
            [rng.choice("abcd") for _ in range(rng.randint(1, 12))]
            for _ in range(10)
        ]
        texts = {i: messy(ws) for i, ws in enumerate(docs)}
        df = spark.createDataFrame(
            list(texts.items()), "doc_id int, text string"
        )
        spans = {}
        for r in dup_substring_spans(
            df, "doc_id", "text", min_len=L, offsets="char"
        ).collect():
            spans.setdefault(r.doc_id, []).append((r.char_start, r.char_end))
        want = {}
        for i, text in texts.items():
            cuts = sorted(spans.get(i, []))
            clean, pos, removed = "", 0, 0
            for s, e in cuts:
                clean += text[pos:s]
                removed += e - s
                pos = e
            clean += text[pos:]
            want[i] = (clean, removed)
        got = {
            r.doc_id: (r.clean_text, r.n_chars_removed)
            for r in dedup_substrings_char(
                df, "doc_id", "text", min_len=L
            ).collect()
        }
        assert got == want, (trial, L)
        assert any(n > 0 for _, n in got.values()) or not spans


def test_contamination_spans_randomized_bruteforce(spark):
    """Same property cross-corpus: covered iff the L-gram appears anywhere
    in the probe corpus."""
    import random

    from dftly_spark.ops import contamination_spans

    rng = random.Random(99)
    for trial in range(5):
        L = rng.choice([2, 3])
        docs = [
            [rng.choice("abc") for _ in range(rng.randint(0, 12))]
            for _ in range(8)
        ]
        probe = [
            [rng.choice("abc") for _ in range(rng.randint(0, 8))]
            for _ in range(4)
        ]
        probe_grams = {
            tuple(ws[p : p + L])
            for ws in probe
            for p in range(len(ws) - L + 1)
        }
        want = _brute_covered_positions(
            docs, L, lambda i, p, g: g in probe_grams
        )
        df = spark.createDataFrame(
            [(i, " ".join(ws)) for i, ws in enumerate(docs)],
            "doc_id int, text string",
        )
        pdf = spark.createDataFrame(
            [(100 + i, " ".join(ws)) for i, ws in enumerate(probe)],
            "doc_id int, text string",
        )
        got = {}
        for r in contamination_spans(df, pdf, "doc_id", "text", min_len=L).collect():
            got.setdefault(r.doc_id, []).append(
                (r.span_start, r.span_end, r.span_tokens)
            )
        got = {k: sorted(v) for k, v in got.items()}
        assert got == want, (trial, L, docs, probe)


def test_lag_features_one_shuffle_and_values(spark):
    from dftly_spark.ops import lag_features

    rows = [(1, 10, 1.0), (1, 20, 2.0), (1, 30, 3.0), (2, 10, 9.0)]
    df = spark.createDataFrame(rows, "k int, ts int, v double")
    out = lag_features(df, "k", ["ts"], ["v"], lags=(1, 2))
    got = {(r.k, r.ts): (r.v_lag1, r.v_lag2) for r in out.collect()}
    assert got[(1, 10)] == (None, None)
    assert got[(1, 20)] == (1.0, None)
    assert got[(1, 30)] == (2.0, 1.0)
    assert got[(2, 10)] == (None, None)
    # all lag columns share one window: exactly one Exchange in the plan
    # (AQE's toString repeats the plan under "== Initial Plan =="; count the
    # final section only)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1


def test_histogram_fixed_bins_and_bounds(spark):
    from dftly_spark.ops import histogram_fixed

    df = spark.createDataFrame(
        [(0.0,), (4.9,), (5.0,), (9.9,), (10.0,), (-1.0,), (100.0,)], "v double"
    )
    out = {r.bin: r for r in histogram_fixed(df, "v", lo=0.0, hi=10.0, nbins=2).collect()}
    # out-of-range values (-1, 10.0, 100) are dropped; 10.0 == hi is exclusive
    assert set(out) == {0, 1}
    assert out[0].n == 2 and out[1].n == 2
    assert (out[0].bin_lo, out[0].bin_hi) == (0.0, 5.0)
    assert (out[1].bin_lo, out[1].bin_hi) == (5.0, 10.0)
    with pytest.raises(ValueError, match="hi must be greater"):
        histogram_fixed(df, "v", lo=1.0, hi=1.0, nbins=4)


def _planted(emb):
    aug = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    copies = aug.where(F.col("vec_id") % 8 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    return aug.unionByName(copies)


def test_semantic_dedup_removes_planted_copies(spark, emb):
    from dftly_spark.ops import semantic_dedup, semantic_dedup_pairs

    aug = _planted(emb)
    n_copies = aug.where(F.col("vec_id") >= 10_000_000).count()
    pairs = semantic_dedup_pairs(aug, threshold=0.95).collect()
    # positive scaling preserves the argmax-dot cell, so recall is structural
    assert {(r.id_l, r.id_r) for r in pairs} == {
        (r.vec_id, r.vec_id + 10_000_000)
        for r in emb.where(F.col("vec_id") % 8 == 0).select("vec_id").collect()
    }
    assert all(r.cos >= 0.95 for r in pairs)
    kept = semantic_dedup(aug, threshold=0.95)
    assert kept.count() == aug.count() - n_copies
    # survivors are always the lower id of each pair
    assert kept.where(F.col("vec_id") >= 10_000_000).count() == 0


def test_semantic_dedup_pairs_plan_is_keyed(spark, emb):
    from dftly_spark.ops import semantic_dedup_pairs

    plan = (
        semantic_dedup_pairs(_planted(emb), threshold=0.95)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    # the only sanctioned nested-loop joins are the 1-row centroid-matrix
    # broadcasts — one per side of the cell self-join, same single
    # checkpointed matrix; the pairwise stage itself must stay a keyed
    # equi-join
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "BatchEvalPython" not in plan


def test_semantic_dedup_max_cell_size_caps_pairwise(spark, emb):
    from dftly_spark.ops import semantic_dedup_pairs

    aug = _planted(emb)
    # cap of 1 leaves at most one member per cell -> no pairs at all
    assert semantic_dedup_pairs(aug, threshold=0.0, max_cell_size=1).count() == 0


def test_snapshot_diff_classifies_and_is_null_safe(spark):
    from dftly_spark.ops import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", 4.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "zz", None), (5, "e", 5.0)],
        "k int, s string, v double",
    )
    out = {r.k: r for r in snapshot_diff(old, new, "k").collect()}
    # k=1 identical, k=2 identical (null == null under null-safe compare)
    assert set(out) == {3, 4, 5}
    assert out[3].change == "changed" and out[3].changed_cols == "s,v"
    assert out[4].change == "removed" and out[4].changed_cols == ""
    assert out[5].change == "added" and out[5].changed_cols == ""


def test_snapshot_diff_compare_cols_subset(spark):
    from dftly_spark.ops import snapshot_diff

    old = spark.createDataFrame([(1, "a", 1.0)], "k int, s string, v double")
    new = spark.createDataFrame([(1, "a", 9.0)], "k int, s string, v double")
    # v excluded from comparison -> no diff rows at all
    assert snapshot_diff(old, new, "k", compare_cols=["s"]).count() == 0
    with pytest.raises(ValueError, match="absent"):
        snapshot_diff(old, new, "k", compare_cols=["nope"])


def test_arrow_scorer_matches_fold_on_separated_clusters(spark, monkeypatch):
    """The arrow cell scorer (Arrow/numpy matmul, forced here by lowering
    the centroid-count threshold) must agree with the fold path
    wherever argmax is not knife-edged: on well-separated planted clusters
    topic assignments and ivf_topk results are identical, including the
    first-max/lowest-cell tie convention, a duplicated id, and the rows
    ``unit()`` does not admit — a NULL vector, a NULL element, a NaN
    element, a +inf element and a zero vector: no topic, and as an
    ivf_topk query each probes cells 1..nprobe and ranks its NULL cosines
    by id."""
    import random

    from dftly_spark.ops import ivf_topk, semantic_dedup_pairs, similarity, topic_assign

    rng = random.Random(5)
    dim, kc = 16, 4
    # first kc rows are the (orthogonal) cluster directions — strategy
    # "first" makes them the centroids — then 60 members with small noise
    rows = []
    for c in range(kc):
        base = [0.0] * dim
        base[c] = 1.0
        rows.append((c, base))
    for i in range(60):
        c = rng.randrange(kc)
        v = [0.05 * rng.uniform(-1, 1) for _ in range(dim)]
        v[c] += 1.0
        rows.append((100 + i, v))
    # rows unit() does not admit: both scorers give them a NULL unit
    # vector and a NULL cell, so they drop out of cosine thresholds/ranks
    rows.append((999, [0.0] * dim))  # zero vector
    rows.append((900, None))  # NULL vector
    rows.append((901, [1.0, None] + [0.0] * (dim - 2)))  # NULL element
    rows.append((902, [float("nan"), 0.5] + [0.0] * (dim - 2)))  # NaN element
    rows.append((903, [float("inf"), 0.5] + [0.0] * (dim - 2)))  # +inf element
    rows.append((100, rows[kc][1]))  # duplicated id, same vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def arrow_scored(build):
        with monkeypatch.context() as m:
            m.setattr(similarity, "_ARROW_CELLS", 1)
            return build()

    fold = topic_assign(df, n_topics=kc, strategy="first")
    arrow = arrow_scored(lambda: topic_assign(df, n_topics=kc, strategy="first"))
    fold_rows = sorted(map(tuple, fold.collect()))
    assert sorted(map(tuple, arrow.collect())) == fold_rows
    assert {(i, None) for i in (900, 901, 902, 903, 999)} <= set(fold_rows)
    # arrow plan really routes through Arrow (one python eval node)
    plan = arrow._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan

    q = df.where((F.col("vec_id") < 4) | (F.col("vec_id") >= 900)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=5, n_centroids=kc, nprobe=2, strategy="first")
    got_f = sorted(
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_topk(df, q, **kw).collect()
    )
    got_a = sorted(
        (r["query_id"], r["vec_id"], r["rank"])
        for r in arrow_scored(lambda: ivf_topk(df, q, **kw)).collect()
    )
    assert got_a == got_f
    assert all(sum(r[0] == i for r in got_f) == 5 for i in (900, 901, 902, 903, 999))

    sd_f = sorted(
        (r["id_l"], r["id_r"]) for r in
        semantic_dedup_pairs(df, threshold=0.9, n_centroids=kc,
                             strategy="first").collect()
    )
    sd_a = sorted(
        (r["id_l"], r["id_r"]) for r in
        arrow_scored(lambda: semantic_dedup_pairs(
            df, threshold=0.9, n_centroids=kc, strategy="first"
        )).collect()
    )
    assert sd_a == sd_f and len(sd_a) > 0


def test_ivf_topk_arrow_pulls_centroids_once(spark, emb, monkeypatch):
    """On the arrow scorer, the corpus assignment and the query probing
    share one driver pull of the centroid frame and one broadcast: at
    k=65k x dim=1k each extra pull is another 0.5 GB on the driver."""
    from pyspark import SparkContext

    from dftly_spark.ops import ivf_topk, similarity

    frame = type(emb)  # the concrete DataFrame class, which defines collect
    pulls, broadcasts = [], []
    collect, broadcast = frame.collect, SparkContext.broadcast

    def counted_collect(df):
        if df.columns == ["_cell", "_i", "_m"]:
            pulls.append(df)
        return collect(df)

    def counted_broadcast(sc, value):
        broadcasts.append(value)
        return broadcast(sc, value)

    q = emb.where(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    monkeypatch.setattr(similarity, "_ARROW_CELLS", 1)
    monkeypatch.setattr(frame, "collect", counted_collect)
    monkeypatch.setattr(SparkContext, "broadcast", counted_broadcast)
    ivf_topk(emb, q, k=5, n_centroids=4, nprobe=2, strategy="first")
    assert (len(pulls), len(broadcasts)) == (1, 1)


def test_topic_assign_covers_corpus_no_shuffle(spark, emb):
    from dftly_spark.ops import topic_assign

    out = topic_assign(emb, n_topics=8, strategy="first")
    assert out.count() == emb.count()
    topics = {r.topic for r in out.select("topic").distinct().collect()}
    assert topics <= set(range(1, 9))
    # row-local argmax against the broadcast centroid matrix: no SHUFFLE at
    # all (the only Exchange is the 1-row matrix BroadcastExchange)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == plan.count("BroadcastExchange")
    # labels match a plain-Python reference: argmax of each vector's dot
    # against the unit 8 lowest-id vectors, first maximum wins (cells are
    # 1-based).  Dots and norms are sequential left folds, the fold
    # scorer's summation order, so near-tied cells resolve identically.
    import math

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    rows = sorted(emb.select("vec_id", "embedding").collect())
    cents = [[x / math.sqrt(dot(v, v)) for x in v] for v in (r.embedding for r in rows[:8])]
    want = {}
    for r in rows:
        s = [dot(r.embedding, c) for c in cents]
        want[r.vec_id] = s.index(max(s)) + 1
    assert dict(map(tuple, out.collect())) == want

    # kmeans strategy stays a valid assignment over the same corpus
    km = topic_assign(emb, n_topics=8, strategy="kmeans", kmeans_iters=2)
    assert km.count() == emb.count()


def test_centroid_init_skips_null_vectors(spark):
    """A NULL embedding is never chosen as a centroid: the n chosen rows
    are the n lowest-id NON-NULL vectors, cells stay contiguous 1..n, and
    each chosen row is labelled with its own cell."""
    import numpy as np

    from dftly_spark.ops import choose_centroid_frame, kmeans_centroids, topic_assign

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(30, 4))
    df = spark.createDataFrame(
        [(i, None if i == 1 else [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    out = dict(map(tuple, topic_assign(df, n_topics=3, strategy="first").collect()))
    assert {t for t in out.values() if t is not None} == {1, 2, 3}
    assert (out[0], out[2], out[3]) == (1, 2, 3)
    assert out[1] is None
    for strategy in ("first", "sample"):
        cells = choose_centroid_frame(df, n_centroids=29, strategy=strategy)
        assert {r._cell for r in cells.select("_cell").distinct().collect()} == set(
            range(1, 30)
        )
    cents = kmeans_centroids(df, n_centroids=3, iters=1, init_strategy="first")
    assert len(cents) == 3 and all(len(c) == 4 for c in cents)


def test_gopher_rules_verdicts(spark):
    from dftly_spark.ops import gopher_rules

    rows = [
        # prose with stopwords, sane lengths -> keep (20 words incl. dups)
        (1, "the cat and the dog sat in a field of green grass "
            "that was it for the quiet day outside"),
        (2, "short text"),                        # fails words
        (3, "### ### " + "the is of to a in it " * 8),  # symbol_ratio fail
        (4, " ".join(["1234"] * 30)),             # alpha/stopwords/mean_wl fail
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_rules(df, min_words=15).collect()}
    assert out[1].keep and out[1].failed_rules == ""
    assert not out[2].keep and "words" in out[2].failed_rules
    assert not out[3].keep and "symbol_ratio" in out[3].failed_rules
    assert not out[4].keep
    assert set(out[4].failed_rules.split(",")) >= {"alpha_frac", "stopwords"}
    # single scan, no shuffle, no UDF
    plan = gopher_rules(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_shared_affix_counts_flags_templates(spark):
    from dftly_spark.ops import shared_affix_counts

    head = "site nav home about contact"
    rows = [
        (1, head + " unique middle alpha tail one"),
        (2, head + " other middle beta tail two"),
        (3, "completely different document text here entirely"),
        (4, "short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in shared_affix_counts(df, k=5).collect()}
    assert out[1].prefix_docs == 2 and out[2].prefix_docs == 2
    assert out[3].prefix_docs == 1 and out[4].prefix_docs == 1
    assert all(out[i].suffix_docs == 1 for i in (1, 2, 3, 4))
    # the count joins reuse the aggregation exchanges: only the two
    # groupBy hash exchanges appear in the final plan
    plan = (
        shared_affix_counts(df, k=5)._jdf.queryExecution().executedPlan().toString()
    )
    final = plan.split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan


def test_sparse_cosine_pairs_finds_copies_and_stays_keyed(spark, docs):
    from dftly_spark.ops import sparse_cosine_pairs

    base = docs.select("doc_id", "text")
    copies = base.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    aug = base.unionByName(copies)
    out = sparse_cosine_pairs(aug, threshold=0.999, min_df=2)
    got = {(r.id_l, r.id_r) for r in out.collect()}
    planted = {
        (r.doc_id, r.doc_id + 10_000_000)
        for r in base.where(F.col("doc_id") % 25 == 0).collect()
    }
    # verbatim copies share every term -> cos == 1.0 (uncapped vector space;
    # a df cap can legitimately empty a doc made entirely of hot terms)
    assert planted <= got
    plan = out._jdf.queryExecution().executedPlan().toString()
    # never cartesian; the only nested loops are tf_idf's sanctioned 1-row
    # corpus-size broadcast (repeated across AQE stage reprints)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_token_canons_agree(spark, docs):
    """tokens(lower(text)) and tokens(normalize_text(text)) must produce the
    same arrays (split is on \\s+, so whitespace collapsing is a no-op) —
    the invariant that lets ONE token column (ops.tokenized_docs) serve
    both the dedup family and the retrieval/lm family."""
    from dftly_spark.ops import normalize_text, tokens

    diff = docs.select(
        tokens(F.lower(F.col("text"))).alias("a"),
        tokens(normalize_text(F.col("text"))).alias("b"),
    ).where(F.col("a") != F.col("b"))
    assert diff.count() == 0
    # edge cases: empty, blank, tabs/newlines, leading/trailing space
    edge = spark.createDataFrame(
        [("",), ("   ",), ("a\t b\n\nc",), ("  x Y  ",), (None,)], "text string"
    )
    rows = edge.select(
        tokens(F.lower(F.col("text"))).alias("a"),
        tokens(normalize_text(F.col("text"))).alias("b"),
    ).collect()
    for r in rows:
        assert r.a == r.b


def test_tokenized_docs_parity(spark, docs):
    """tokenized_docs adds the same arrays ops compute themselves — so
    tokens_col= changes the plan, never the result."""
    from dftly_spark.ops import (
        TOKENS_COL,
        ngram_jaccard_pairs,
        tokenized_docs,
    )

    base = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.7)
    shared = ngram_jaccard_pairs(
        tokenized_docs(docs), "doc_id", "text", n=3, threshold=0.7,
        tokens_col=TOKENS_COL,
    )
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, shared.collect()))
    assert a == b


def test_doc_tokens_rejects_missing_column(spark, docs):
    from dftly_spark.ops import bm25_topk

    qdf = spark.createDataFrame([(1, "probe")], "query_id int, query string")
    with pytest.raises(ValueError, match="tokens_col"):
        bm25_topk(docs, qdf, k=3, tokens_col="nope")


def test_kmeans_fit_collects_once(spark, monkeypatch):
    """Round-4 contract: Lloyd refinement is DataFrame-resident — the
    centroid matrix rides py4j exactly once (the final collect), never per
    iteration.  The init is never collected either (it is built
    cluster-side), so total collect() calls must be 1 regardless of
    iters."""
    # pyspark 4: the session builds classic.DataFrame instances whose
    # collect overrides the pyspark.sql.DataFrame abstract — patch the
    # concrete class
    from pyspark.sql.classic.dataframe import DataFrame as _DF

    from dftly_spark.ops.similarity import kmeans_centroids

    # the three lowest ids are the axes, so init_strategy="first" starts
    # Lloyd from the identity matrix
    axes = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    df = spark.createDataFrame(
        list(enumerate(axes))
        + [(i, [float(i % 4), float((i * 3) % 5), 1.0]) for i in range(3, 40)],
        "vec_id long, embedding array<double>",
    )
    calls = {"n": 0}
    orig = _DF.collect

    def counting(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(_DF, "collect", counting)
    cents = kmeans_centroids(df, n_centroids=3, iters=4, init_strategy="first")
    assert calls["n"] == 1
    assert len(cents) == 3 and all(len(c) == 3 for c in cents)
    # unit length
    for c in cents:
        assert abs(sum(x * x for x in c) - 1.0) < 1e-9
    # at any init strategy: still exactly one collect, the final read
    for strategy in ("first", "sample"):
        calls["n"] = 0
        cents = kmeans_centroids(df, n_centroids=3, iters=2, init_strategy=strategy)
        assert calls["n"] == 1
        assert len(cents) == 3 and all(len(c) == 3 for c in cents)


def test_dsir_weights_separates_target_like_docs(spark):
    from dftly_spark.ops import dsir_weights

    import pyspark.sql.functions as F

    # target style: "alpha beta" vocabulary; off-target: "gamma delta".
    # a raw doc written in target vocabulary must outscore one that isn't.
    rows = [
        (1, "alpha beta alpha beta alpha", "en"),
        (2, "beta alpha beta alpha beta", "en"),
        (3, "gamma delta gamma delta", "xx"),
        (4, "alpha beta alpha beta", "xx"),
        (5, "delta gamma delta gamma", "xx"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["doc_id"]: r["logw"]
        for r in dsir_weights(
            df, "doc_id", "text", target_filter=F.col("lang") == "en",
            n_buckets=64,
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    # target-vocabulary raw doc outscores the off-target raw docs; the
    # absolute sign is smoothing-dominated at toy scale, so only the
    # ORDERING is asserted
    assert out[4] > out[3] and out[4] > out[5]
    assert min(out[1], out[2]) > max(out[3], out[5])


def test_dsir_weights_partition_invariance(spark):
    from dftly_spark.ops import dsir_weights

    import pyspark.sql.functions as F

    df = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("tok"), (F.col("id") % 7).cast("string"),
            F.lit("tok"), (F.col("id") % 5).cast("string"),
            F.lit("tok"), (F.col("id") % 3).cast("string"),
        ).alias("text"),
        (F.col("id") % 2 == 0).alias("is_t"),
    )
    a = sorted(map(tuple, dsir_weights(df, "doc_id", "text",
                                       target_filter=F.col("is_t")).collect()))
    b = sorted(map(tuple, dsir_weights(df.repartition(13), "doc_id", "text",
                                       target_filter=F.col("is_t")).collect()))
    assert a == b and len(a) == 60


def test_novelty_scores_first_owner_semantics(spark):
    from dftly_spark.ops import novelty_scores

    # doc 1 introduces "a b c" and "b c d"; doc 2 repeats "a b c" and adds
    # one new shingle; doc 3 is a pure copy of doc 1 -> novelty 0
    df = spark.createDataFrame(
        [
            (1, "a b c d"),      # shingles {a b c, b c d}: both novel
            (2, "a b c e"),      # {a b c, b c e}: 1 of 2 novel
            (3, "a b c d"),      # copy of doc 1: 0 of 2 novel
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"])
           for r in novelty_scores(df, "doc_id", "text", n=3).collect()}
    assert out[1] == (2, 2, 1.0)
    assert out[2] == (2, 1, 0.5)
    assert out[3] == (2, 0, 0.0)


def test_novelty_scores_order_col_overrides_id(spark):
    from dftly_spark.ops import novelty_scores

    # doc 9 is OLDER (order 1) than doc 1 (order 2): the copy penalty
    # flips to doc 1
    df = spark.createDataFrame(
        [(9, "a b c", 1), (1, "a b c", 2)],
        "doc_id long, text string, o long",
    )
    out = {r["doc_id"]: r["n_novel"]
           for r in novelty_scores(df, "doc_id", "text", n=3,
                                   order_col="o").collect()}
    assert out == {9: 1, 1: 0}


def test_source_overlap_exact_jaccard(spark):
    from dftly_spark.ops import source_overlap

    # A: {x y z, y z w} ; B: {x y z, q r s} ; C disjoint
    df = spark.createDataFrame(
        [
            ("A", "x y z w"),
            ("B", "x y z"), ("B", "q r s"),
            ("C", "m n o"),
        ],
        "source string, text string",
    )
    out = {(r["group_a"], r["group_b"]): r for r in
           source_overlap(df, "source", "text", n=3).collect()}
    ab = out[("A", "B")]
    assert (ab["inter"], ab["size_a"], ab["size_b"]) == (1, 2, 2)
    assert abs(ab["jaccard"] - 1 / 3) < 1e-12
    assert ab["containment_a"] == 0.5 and ab["containment_b"] == 0.5
    # disjoint pairs are absent
    assert ("A", "C") not in out and ("B", "C") not in out


def _reference_bpe(word_counts, n_merges):
    """Single-machine greedy BPE (Sennrich et al.) for cross-checking."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    rules = []
    for _ in range(n_merges):
        pairs = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        (pa, pb), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append((pa, pb, cnt))
        merged = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == pa and syms[i + 1] == pb:
                    out.append(pa + pb)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            merged[key] = merged.get(key, 0) + c
        vocab = merged
    return rules


def test_bpe_learn_matches_reference(spark):
    from dftly_spark.ops import bpe_learn

    texts = [
        "the cat sat on the mat",
        "the bat and the rat chat",
        "that hat on that cat",
        "matter chatter patter",
    ] * 3
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = sorted(
        (r["rank"], r["merge_left"], r["merge_right"], r["pair_count"])
        for r in bpe_learn(df, "text", n_merges=6).collect()
    )
    wc = {}
    for t in texts:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    ref = [(i, a, b, c) for i, (a, b, c) in
           enumerate(_reference_bpe(wc, 6))]
    assert out == ref


def test_bpe_learn_batched_disjoint_and_exhaustion(spark):
    from dftly_spark.ops import bpe_learn

    texts = [
        "the cat sat on the mat",
        "the bat and the rat chat",
        "that hat on that cat",
        "matter chatter patter",
    ] * 3
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    exact0 = bpe_learn(df, "text", n_merges=1).collect()[0]
    batched = bpe_learn(df, "text", n_merges=6, batch=3).collect()
    assert len(batched) == 6
    # within each round's batch the selected pairs are symbol-disjoint
    # (the invariant that makes the shared-snapshot counts exact)
    for lo in range(0, 6, 3):
        syms = []
        for r in sorted(batched, key=lambda r: r["rank"])[lo:lo + 3]:
            syms += [r["merge_left"], r["merge_right"],
                     r["merge_left"] + r["merge_right"]]
        assert len(syms) == len(set(syms))
    # the top candidate is always selected first, so rank 0 MUST agree
    # with exact greedy's first rule (count included); later ranks may
    # diverge — the documented parallel-BPE approximation
    b0 = min(batched, key=lambda r: r["rank"])
    assert (b0["merge_left"], b0["merge_right"], b0["pair_count"]) == (
        exact0["merge_left"], exact0["merge_right"], exact0["pair_count"]
    )
    # exhaustion: a tiny corpus runs out of pairs and the loop STOPS
    # instead of idling through the budget
    tiny = spark.createDataFrame([("ab ab",)], "text string")
    got = bpe_learn(tiny, "text", n_merges=50, batch=8).collect()
    assert [(r["rank"], r["merge_left"], r["merge_right"]) for r in got] == [
        (0, "a", "b")
    ]


def test_bpe_learn_auto_batch_gap(spark):
    """batch="auto" defers candidates below gap × round-top to the next
    round's FRESH counts.  On this corpus that recovers exact greedy where
    a fixed batch inverts: merging (a,b) creates (ab,ab) with count 6,
    which greedy ranks above (c,d)=2 — fixed batch=3 commits (c,d) from
    the stale round-1 snapshot, gap=0.5 holds it back (2 < 0.5×12)."""
    from dftly_spark.ops import bpe_learn

    df = spark.createDataFrame(
        [("abab",)] * 6 + [("cd",)] * 2, "text string"
    )
    want_greedy = [(0, "a", "b", 12), (1, "ab", "ab", 6), (2, "c", "d", 2)]
    exact = [
        (r["rank"], r["merge_left"], r["merge_right"], r["pair_count"])
        for r in bpe_learn(df, "text", n_merges=3).collect()
    ]
    assert sorted(exact) == want_greedy
    auto = [
        (r["rank"], r["merge_left"], r["merge_right"], r["pair_count"])
        for r in bpe_learn(
            df, "text", n_merges=3, batch="auto", batch_gap=0.5
        ).collect()
    ]
    assert sorted(auto) == want_greedy
    # the fixed batch really is the thing auto improves on: batch=3
    # commits (c,d) at rank 1 from the stale snapshot
    fixed = [
        (r["rank"], r["merge_left"], r["merge_right"], r["pair_count"])
        for r in bpe_learn(df, "text", n_merges=3, batch=3).collect()
    ]
    assert sorted(fixed) == [(0, "a", "b", 12), (1, "c", "d", 2),
                             (2, "ab", "ab", 6)]
    # invalid gap is a loud reject
    import pytest as _pytest
    with _pytest.raises(ValueError, match="batch_gap"):
        bpe_learn(df, "text", n_merges=2, batch="auto", batch_gap=0.0)


def test_bpe_learn_sample_then_learn(spark):
    # The production recipe: learn on a deterministic id-gated sample.
    # Equivalence oracle: bpe_learn(sample_frac=f) == bpe_learn over the
    # manually gated frame (same LCG gate as hash_split); frac=1 is the
    # full corpus; missing id_col raises.
    import pytest as _pytest

    from dftly_spark.ops.bpe import bpe_learn
    from dftly_spark.ops.sampling import _M, _mix
    from pyspark.sql import functions as F

    rows = [(i, "low lower lowest new newer newest " * (i % 3 + 1)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, body string")

    sampled = bpe_learn(
        df, "body", n_merges=4, sample_frac=0.5, id_col="doc_id", sample_seed=3
    ).collect()
    manual = bpe_learn(
        df.where(_mix(F.col("doc_id"), 3) < int(0.5 * _M)), "body", n_merges=4
    ).collect()
    assert [tuple(r) for r in sampled] == [tuple(r) for r in manual]

    full = bpe_learn(df, "body", n_merges=4, sample_frac=1.0, id_col="doc_id").collect()
    plain = bpe_learn(df, "body", n_merges=4).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in plain]

    with _pytest.raises(ValueError, match="id_col"):
        bpe_learn(df, "body", n_merges=2, sample_frac=0.5)


def test_bpe_learn_merged_symbols_compose(spark):
    from dftly_spark.ops import bpe_learn

    # 'aab' x N: round 0 merges (a,a); round 1 must see the COMPOSED
    # symbol 'aa' next to 'b'
    df = spark.createDataFrame([("aab aab aab",)] * 2, "text string")
    out = {r["rank"]: (r["merge_left"], r["merge_right"])
           for r in bpe_learn(df, "text", n_merges=2).collect()}
    assert out == {0: ("a", "a"), 1: ("aa", "b")}


def test_bpe_encode_counts_shrink_with_merges(spark):
    from dftly_spark.ops import bpe_encode_counts, bpe_learn

    df = spark.createDataFrame(
        [(1, "banana bandana"), (2, "an an an banana")],
        "doc_id long, text string",
    )
    merges = bpe_learn(df, "text", n_merges=3)
    out = {r["doc_id"]: (r["n_words"], r["n_tokens"])
           for r in bpe_encode_counts(df, "doc_id", "text", merges).collect()}
    # raw char counts: doc1 = 6+7=13, doc2 = 2+2+2+6=12; with ('a','n')
    # merged (6+4 occurrences) every 'an' halves
    assert out[1][0] == 2 and out[2][0] == 4
    assert out[1][1] < 13 and out[2][1] < 12
    # no merges -> pure char counts
    base = {r["doc_id"]: r["n_tokens"]
            for r in bpe_encode_counts(df, "doc_id", "text", []).collect()}
    assert base == {1: 13, 2: 12}


def test_cms_join_size_bounds(spark):
    from dftly_spark.ops import cms_build, cms_join_size

    a = spark.range(2000).select((F.col("id") % 500).alias("k"))
    b = spark.range(300).select((F.col("id") % 100).alias("k"))
    # exact join size: keys 0..99 -> (2000/500=4 copies) x 3 copies = 12
    # per key x 100 keys = 1200
    exact = a.join(b, "k").count()
    est = cms_join_size(
        cms_build(a, "k", depth=4, width=1024),
        cms_build(b, "k", depth=4, width=1024),
    ).collect()[0]["join_size_est"]
    assert exact == 1200
    # CMS inner product never undercounts; with width >> keys it is tight
    assert est >= exact
    assert est <= exact * 1.2


def test_cms_join_size_disjoint_keys(spark):
    from dftly_spark.ops import cms_build, cms_join_size

    a = spark.range(50).select(F.col("id").alias("k"))
    b = spark.range(50).select((F.col("id") + 10_000_000).alias("k"))
    est = cms_join_size(
        cms_build(a, "k"), cms_build(b, "k")
    ).collect()[0]["join_size_est"]
    # disjoint key sets: only hash collisions contribute; min over rows
    # keeps it near zero at this width
    assert est <= 10


def test_pca_top_component_matches_numpy(spark):
    import numpy as np

    from dftly_spark.ops import pca_top_component

    rng = np.random.RandomState(11)
    # anisotropic cloud: strong direction u with noise
    u = rng.randn(16); u /= np.linalg.norm(u)
    x = np.outer(rng.randn(400) * 5.0, u) + rng.randn(400, 16) * 0.3
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(400)],
        "vec_id long, embedding array<double>",
    )
    out = pca_top_component(df, "vec_id", "embedding", dim=16).toPandas()
    scores = out.sort_values("vec_id")["pc1"].to_numpy()
    xc = x - x.mean(axis=0)
    evals, evecs = np.linalg.eigh(np.cov(xc.T, bias=True))
    v_np = evecs[:, -1]
    ref = x @ v_np
    # scores match the numpy projection up to global sign
    c = np.corrcoef(scores, ref)[0, 1]
    assert abs(c) > 0.9999


def test_pca_top_component_rejects_tiny_input(spark):
    from dftly_spark.ops import pca_top_component

    df = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match=">=2 vectors"):
        pca_top_component(df, "vec_id", "embedding", dim=2)


def test_pca_rejects_ragged_vectors(spark):
    # A vector shorter than dim used to truncate silently in the flat-key
    # triangle explode, misattributing its products onto wrong (i, j)
    # cells — silently wrong components.  Must raise loudly instead.
    from dftly_spark.ops.pca import _exact_stats

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="vector length != dim"):
        _exact_stats(df, "embedding", 3)
    # NULL vectors stay allowed: both passes drop them consistently
    df2 = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    n, s, sp = _exact_stats(df2, "embedding", 2)
    assert n == 2 and s[0] == 4_000_000 and sp[0][1] == 14_000_000_000_000


def test_rewrite_century_delegates_to_century_plan():
    from dftly_spark.chrono import rewrite_century

    assert rewrite_century("%C%y-%m-%d") == "%Y-%m-%d"
    assert rewrite_century("%d/%m/%Y") == "%d/%m/%Y"  # no %C: unchanged
    # literal-separated pairing needs input strips — format-only callers
    # must get a loud error, not a format the input won't match
    with pytest.raises(ValueError, match="strips"):
        rewrite_century("%C|%y-%m-%d")


def test_bpe_encode_counts_accepts_collected_rows(spark):
    from dftly_spark.ops import bpe_encode_counts, bpe_learn

    df = spark.createDataFrame([(1, "banana bandana")], "doc_id long, text string")
    rows = bpe_learn(df, "text", n_merges=2).collect()  # 4-field Rows
    out = bpe_encode_counts(df, "doc_id", "text", rows).collect()
    assert out[0]["n_words"] == 2 and out[0]["n_tokens"] < 13


def test_media_dup_pairs_finds_planted_payload_copies(spark, docs):
    from dftly_spark.ops import attach_fake_media, media_dup_pairs

    media = attach_fake_media(docs, "text")
    # plant exact payload copies under new ids
    copies = media.where(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 5_000_000
    )
    aug = media.unionByName(copies)
    pairs = media_dup_pairs(aug, "doc_id", max_hamming=0)
    got = {(r["id_l"], r["id_r"]) for r in pairs.collect()}
    planted = {
        (r["doc_id"], r["doc_id"] + 5_000_000)
        for r in media.where(F.col("doc_id") % 10 == 0).collect()
    }
    # every planted copy collides at hamming 0; the fake hasher cannot
    # produce near-misses, so extra pairs mean genuine payload repeats
    assert planted <= got


def test_simhash_still_matches_after_hamming_pairs_refactor(spark, docs):
    """x04's gate covers this too; local pin that the shared helper kept
    simhash semantics byte-identical."""
    from dftly_spark.ops import simhash_dup_pairs

    out = simhash_dup_pairs(docs, "doc_id", "text", max_hamming=3)
    rows = out.collect()
    assert all(r["hamming"] <= 3 for r in rows)
    assert len(rows) > 0


def test_hamming_pairs_band_count_tracks_budget(spark):
    """Recall guarantee beyond hamming 3: a pair differing by 4 bits, one
    per 16-bit quarter, collides on NO 4-band chunk — the band count must
    derive from the budget (5 bands) to find it."""
    from dftly_spark.ops import hamming_pairs

    a = 0
    b = (1 << 3) | (1 << 19) | (1 << 35) | (1 << 51)  # one bit per quarter
    fp = spark.createDataFrame([(1, a), (2, b)], "id long, f long")
    got4 = hamming_pairs(fp, "id", "f", max_hamming=4).collect()
    assert [(r["id_l"], r["id_r"], r["hamming"]) for r in got4] == [(1, 2, 4)]
    # and the same pair is correctly EXCLUDED at budget 3
    assert hamming_pairs(fp, "id", "f", max_hamming=3).count() == 0


def test_dsir_fit_score_split_matches_fused(spark):
    """dsir_model + dsir_score on the fit corpus reproduces dsir_weights
    exactly (n_bigrams can differ only for docs hitting unseen buckets —
    impossible when scoring the fit corpus itself)."""
    from dftly_spark.ops import dsir_model, dsir_score, dsir_weights

    df = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 5} tok{i % 3} tok{i % 2}", i % 2 == 0)
         for i in range(80)],
        "doc_id long, text string, is_t boolean",
    )
    fused = sorted(map(tuple, dsir_weights(
        df, "doc_id", "text", target_filter=F.col("is_t"), n_buckets=256
    ).collect()))
    model = dsir_model(df, "doc_id", "text",
                       target_filter=F.col("is_t"), n_buckets=256)
    split = sorted(map(tuple, dsir_score(
        df, "doc_id", "text", model, n_buckets=256
    ).collect()))
    assert fused == split


def test_dsir_score_new_documents_against_fitted_model(spark):
    from dftly_spark.ops import dsir_model, dsir_score

    fit = spark.createDataFrame(
        [(1, "alpha beta alpha beta", True), (2, "gamma delta gamma", False)],
        "doc_id long, text string, is_t boolean",
    )
    model = dsir_model(fit, "doc_id", "text",
                       target_filter=F.col("is_t"), n_buckets=64)
    new = spark.createDataFrame(
        [(10, "alpha beta alpha"), (11, "gamma delta gamma")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["logw"]
           for r in dsir_score(new, "doc_id", "text", model,
                               n_buckets=64).collect()}
    assert out[10] > out[11]  # target-like new doc outscores off-target


def test_dsir_score_unseen_buckets_keep_rows_and_counts(spark):
    """Score-corpus buckets absent from the fit corpus must not drop rows
    or shrink n_bigrams (fit-on-sample is the deployment path)."""
    from dftly_spark.ops import dsir_model, dsir_score

    fit = spark.createDataFrame(
        [(1, "alpha beta alpha beta", True), (2, "gamma delta gamma", False)],
        "doc_id long, text string, is_t boolean",
    )
    model = dsir_model(fit, "doc_id", "text",
                       target_filter=F.col("is_t"), n_buckets=4096)
    new = spark.createDataFrame(
        [
            # doc 20: every bigram unseen at fit time — must still get a row
            (20, "zzz yyy xxx www"),
            # doc 21: mix of seen ("alpha beta") and unseen bigrams
            (21, "alpha beta qqq rrr"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dsir_score(
        new, "doc_id", "text", model, n_buckets=4096).collect()}
    assert set(rows) == {20, 21}            # (a) no rows vanish
    assert rows[20]["n_bigrams"] == 3       # (b) true bigram counts
    assert rows[21]["n_bigrams"] == 3
    assert rows[20]["logw"] == 0.0          # all-unseen doc scores neutral 0

    # an explicit unseen penalty applies per unseen bigram instance
    pen = {r["doc_id"]: r for r in dsir_score(
        new, "doc_id", "text", model, n_buckets=4096,
        unseen_penalty=-2.0).collect()}
    assert pen[20]["logw"] == -6.0          # 3 unseen instances * -2.0
    assert pen[20]["n_bigrams"] == 3
    assert pen[21]["logw"] < rows[21]["logw"]


def test_token_budget_sample_matches_bruteforce(spark):
    # Python replay of the LCG order + cumsum must select the identical set.
    import random

    rng = random.Random(3)
    rows = [
        (i, f"g{i % 3}", " ".join("w" * 1 for _ in range(rng.randint(1, 30))))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    from dftly_spark.ops import token_budget_sample

    budget = 120
    out = token_budget_sample(
        df, "src", budget, id_col="doc_id", text_col="text", seed=5, buckets=4
    ).collect()

    def mix(i):
        return (i * 1103515245 + 12345 + 5) % 2**31

    expect = {}
    for g in ("g0", "g1", "g2"):
        grp = sorted(
            ((mix(i), i, len(t.split())) for i, s, t in rows if s == g),
        )
        cum = 0
        for _, i, n in grp:
            if cum < budget:
                expect[i] = (n, cum + n)
            cum += n
    got = {r.doc_id: (r.n_tokens, r.cum_tokens) for r in out}
    assert got == expect
    # every group reaches the budget (crossing doc included)
    for g in ("g0", "g1", "g2"):
        tot = sum(n for i, (n, c) in got.items() if f"g{i % 3}" == g)
        assert tot >= budget


def test_token_budget_sample_dict_budgets_and_precomputed_counts(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 10), (3, "b", 5), (4, "c", 5)],
        "doc_id long, src string, nt long",
    )
    from dftly_spark.ops import token_budget_sample

    out = token_budget_sample(
        df, "src", {"a": 1, "b": 99}, id_col="doc_id", n_tokens_col="nt"
    )
    rows = out.collect()
    srcs = sorted(r.src for r in rows)
    assert srcs == ["a", "b"]  # c absent from the mapping -> dropped
    assert sum(1 for r in rows if r.src == "a") == 1  # crossing doc only
    assert sum(1 for r in rows if r.src == "b") == 1


def test_token_budget_sample_stable_under_repartition(spark):
    df = spark.createDataFrame(
        [(i, "g", "x " * (i % 7 + 1)) for i in range(100)],
        "doc_id long, src string, text string",
    )
    from dftly_spark.ops import token_budget_sample

    a = token_budget_sample(df, "src", 50, seed=1)
    b = token_budget_sample(df.repartition(13), "src", 50, seed=1)
    sa = sorted((r.doc_id, r.cum_tokens) for r in a.collect())
    sb = sorted((r.doc_id, r.cum_tokens) for r in b.collect())
    assert sa == sb and len(sa) > 0


def test_token_budget_sample_no_single_partition_window(spark):
    df = spark.createDataFrame(
        [(i, f"g{i%2}", "x y z") for i in range(50)],
        "doc_id long, src string, text string",
    )
    from dftly_spark.ops import token_budget_sample

    plan = (
        token_budget_sample(df, "src", 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # local windows key on (group, bucket); the offset window keys on group
    # over the tiny totals frame -- nothing windows over SinglePartition
    assert "SinglePartition" not in plan


def test_token_budget_sample_null_and_negative_rows_excluded(spark):
    # A null id (no reproducible order) or null/negative count must be
    # EXCLUDED up front, never poison the bucket offsets of real rows.
    rows = [(float(i), "g", 10) for i in range(20)] + [
        (None, "g", 4000),
        (50.0, "g", None),
        (51.0, "g", -7),
    ]
    df = spark.createDataFrame(rows, "doc_id double, src string, nt int").selectExpr(
        "CAST(doc_id AS LONG) AS doc_id", "src", "nt"
    )
    from dftly_spark.ops import token_budget_sample

    out = token_budget_sample(df, "src", 100, n_tokens_col="nt").collect()
    assert len(out) == 10  # 10 x 10 tokens fill the budget exactly
    assert all(r.doc_id is not None for r in out)
    assert sum(r.n_tokens for r in out) == 100


def test_token_budget_sample_uncastable_ids_and_null_group_excluded(spark):
    # ADVICE r11: a string id that does not cast to bigint yields a null
    # order key -- the gate must exclude it EXPLICITLY (same documented
    # rule as null ids), not lose it to a silent null-key drop in the
    # offset join; a null group in the int-budget case is likewise
    # excluded by rule rather than by join artifact.
    df = spark.createDataFrame(
        [("1", "g", 10), ("2", "g", 10), ("doc-x", "g", 999), ("3", None, 999)],
        "doc_id string, src string, nt int",
    )
    from dftly_spark.ops import token_budget_sample

    out = token_budget_sample(df, "src", 100, n_tokens_col="nt").collect()
    assert sorted(r.doc_id for r in out) == ["1", "2"]
    assert sum(r.n_tokens for r in out) == 20


def test_token_budget_sample_totals_branch_is_pruned(spark):
    # The bucket-totals branch is a second, column-PRUNED scan: with
    # precomputed counts it must not read the wide text column at all
    # (the documented 100 TB shape -- pass n_tokens_col so the second
    # scan stays thin).
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from dftly_spark.ops import token_budget_sample

    withnt = docs.withColumnRenamed("n_chars", "nt")
    plan = (
        token_budget_sample(withnt, "source", 500, n_tokens_col="nt")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re as _re

    schemas = _re.findall(r"ReadSchema: (\S+)", plan)
    assert len(schemas) == 2
    # the full-row branch reads everything; the totals branch prunes to
    # (doc_id, source, nt) -- neither text nor lang
    pruned = [s for s in schemas if "text" not in s and "lang" not in s]
    assert len(pruned) == 1, f"no pruned totals scan in {schemas}"
