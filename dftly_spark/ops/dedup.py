"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the 100 TB contract — see ops/__init__ docstring):

* **Exact dedup** groups on a 64-bit hash of the normalized text, not the
  text itself — the shuffle carries 8-byte keys instead of documents.
* **MinHash-LSH** is the standard shingle → k-minhash → band → bucket-join
  pipeline: candidates come from an equi-join on (band, bucket-hash), so the
  shuffle is keyed and partition-parallel; no all-pairs comparison ever
  happens.  Hot buckets (boilerplate shingles) are capped by
  ``max_bucket_size`` — the LSH analogue of skew salting.
* **SimHash** bands the 64-bit fingerprint into 4×16-bit chunks; hamming ≤ 3
  duplicates must collide on ≥1 chunk (pigeonhole), so candidates again come
  from an equi-join.
* **n-gram Jaccard** is the exact inverted-index join (explode shingles,
  self-join on shingle, count shared); ``max_df`` drops ubiquitous shingles
  that would otherwise create quadratic candidate blow-up.
* **Embedding near-dup**: ``method="brute"`` is the O(n²) baseline
  (broadcast nested-loop — only for small n / verification);
  ``method="lsh"`` buckets by random-hyperplane signs and verifies exact
  cosine within buckets.

All text/hash paths are pure ``pyspark.sql.functions`` — no Python UDFs.
"""

from __future__ import annotations

import logging

import numpy as np
from pyspark.sql import Column as SparkColumn
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..io import _row_bound
from .scale import durable_checkpoint

from .similarity import cosine
from .textops import doc_tokens, normalize_text, tokens


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One representative row per distinct (normalized) text.

    Returns ``(id_col, n_copies)`` — the minimum id of each duplicate group
    and the group size.  Groups on ``xxhash64(normalized_text)`` so the
    shuffle key is 8 bytes (collision probability ~n²/2⁶⁴; at 10¹² docs
    switch to a 128-bit hash).
    """
    key = F.xxhash64(normalize_text(F.col(text_col)))
    return (
        df.groupBy(key.alias("_k"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("_k")
    )


# ---------------------------------------------------------------------------
# Shingles + MinHash
# ---------------------------------------------------------------------------


def word_shingles(col: SparkColumn, n: int = 3) -> SparkColumn:
    """Distinct word ``n``-grams (array<string>), lowercased.

    Documents shorter than ``n`` words contribute their whole text as a
    single shingle, so no document vanishes from the index.
    """
    ws = tokens(F.lower(col))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
    )
    whole = F.array(F.concat_ws(" ", ws))
    return F.array_distinct(F.when(F.size(ws) >= n, grams).otherwise(whole))


def shingle_hashes(col: SparkColumn, n: int = 3) -> SparkColumn:
    """Row-local hashed shingle set (array<bigint>), bit-compatible with the
    corpus-scale window formulation.

    Produces exactly the values :func:`_shingle_instance_frames` produces —
    word ``n``-grams hashed as multi-argument ``xxhash64(tok₀,…,tokₙ₋₁)``,
    whole-text hash for documents shorter than ``n`` words — but as one
    per-row expression (interpreted HOFs): the form streaming needs, where
    window functions are not allowed, and the form that lets a stream join
    a batch-built index (:func:`minhash_index`) key-for-key.

    PERFORMANCE: ``col`` is captured by the per-gram lambda, and captured
    expressions re-evaluate PER ELEMENT in interpreted HOFs — pass a plain
    text column and the row re-tokenizes (lower + regex split over the
    whole document) once per gram×position: measured 17 ms/doc, 28 s for
    1 667 documents.  Callers should project the token array to an
    attribute first and use :func:`shingle_hashes_tokens`; this wrapper
    stays for single-reference/test use.
    """
    return shingle_hashes_tokens(tokens(F.lower(col)), n)


def shingle_hashes_tokens(ws: SparkColumn, n: int = 3) -> SparkColumn:
    """:func:`shingle_hashes` from an already-computed token array column.

    Pass an ATTRIBUTE (``F.col("_ws")`` projected in a previous select),
    not an inline expression — the per-gram lambda captures ``ws`` and
    interpreted HOFs re-evaluate captured expressions per element (an
    attribute is a row-field read; an expression is a recompute)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - (n - 1)),
        lambda i: F.xxhash64(*[F.element_at(ws, i + j) for j in range(n)]),
    )
    whole = F.array(F.xxhash64(F.concat_ws(" ", ws)))
    return F.array_distinct(F.when(F.size(ws) >= n, grams).otherwise(whole))


def minhash_signature(shingles_col: SparkColumn, k: int = 32) -> SparkColumn:
    """k-permutation MinHash signature (array<bigint> of length ``k``).

    Permutation ``i`` is ``xxhash64(shingle, i)``; the signature element is
    the minimum over the document's shingles.  Empty shingle sets yield null
    elements — filter empty documents upstream.

    Expression form (higher-order functions are interpreted, not codegen'd);
    the pipeline in :func:`minhash_dup_pairs` uses the faster explode +
    hash-aggregate formulation of the same signature.

    NB: the permutation index must be captured in a helper scope — a
    two-parameter ``lambda s, i=i`` would be treated by Spark as the
    binary ``(element, index)`` transform form, shadowing the seed with
    the array position (every permutation collapses to the same values).
    """

    def perm(i: int) -> SparkColumn:
        return F.array_min(
            F.transform(shingles_col, lambda s: F.xxhash64(s, F.lit(i)))
        )

    return F.array(*[perm(i) for i in range(k)])


#: Widest shingle the row-local arrays_zip build is used for; wider L-grams
#: fall back to the lead()-window build (the zip build materializes n
#: shifted copies of every token array row-locally, so its cost grows with
#: n while the window build's shuffle is n-independent).  Round-14 A/B at
#: sf0.1, same-session interleaved: n=3 consumers are equal-or-faster on
#: zip (novelty 1.75 s → 1.62 s) and the zip plan drops the token
#: Exchange+Sort outright; the L=13/20 span families measured equal-to-
#: slightly-faster on window (x141 2.41 s vs 2.79 s), where the extra
#: row-local array copies outweigh the saved shuffle at local scale.
_ZIP_MAX_N = 8


def _build_long_window(base: DataFrame, n: int) -> DataFrame:
    """lead()-window long-instance build: one token-instance Exchange+Sort,
    n-independent per-row cost — the wide-L-gram fallback (values identical
    to the zip build)."""
    from pyspark.sql import Window

    win = Window.partitionBy("_id").orderBy("_p")
    return (
        base.where(F.col("_sz") >= n)
        .select("_id", F.col("_sz"), F.posexplode("_w").alias("_p", "_t"))
        .select(
            "_id",
            "_p",
            "_sz",
            F.xxhash64(
                *[F.lead("_t", j).over(win) if j else F.col("_t") for j in range(n)]
            ).alias("_g"),
        )
        .where(F.col("_p") <= F.col("_sz") - n)
        .select("_id", "_p", "_g")
    )


def _build_long_zip(base: DataFrame, n: int) -> DataFrame:
    """Row-local ``(_id, _p, _g)`` instances: ``n`` shifted slices,
    ``arrays_zip`` + ``posexplode``, one multi-argument ``xxhash64``."""
    shifted = base.where(F.col("_sz") >= n).select(
        "_id",
        "_sz",
        *[
            (
                F.col("_w")
                if j == 0
                else F.slice(F.col("_w"), j + 1, F.col("_sz") - j)
            ).alias(f"_w{j}")
            for j in range(n)
        ],
    )
    # arrays_zip pads the shifted (shorter) arrays with null up to the
    # unshifted length; the _p <= _sz - n filter drops exactly those
    # padded tails, so every surviving row's n fields are real tokens.
    return (
        shifted.select(
            "_id",
            "_sz",
            F.posexplode(
                F.arrays_zip(*[F.col(f"_w{j}") for j in range(n)])
            ).alias("_p", "_z"),
        )
        .where(F.col("_p") <= F.col("_sz") - n)
        .select(
            "_id",
            "_p",
            F.xxhash64(*[F.col(f"_z._w{j}") for j in range(n)]).alias("_g"),
        )
    )


def _shingle_instance_frames(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    tokens_col: str | None = None,
    keep_pos: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Codegen-friendly shingle-hash instances, split by document length.

    Returns ``(long_inst, short_rows)``:

    * ``long_inst`` — ``(_id, _g)`` rows, one per word ``n``-gram occurrence
      (non-distinct), built ROW-LOCALLY: ``n`` shifted ``slice`` views of
      the token array are ``arrays_zip``'d and ``posexplode``'d, so every
      output row carries its gram's ``n`` tokens and the multi-argument
      ``xxhash64(tok₀,…,tokₙ₋₁)`` runs in whole-stage codegen with NO
      exchange (array higher-order functions are interpreted — measured
      ~13 µs/shingle in this repo — and the previous ``lead()``-window
      formulation paid a full token-instance Exchange+Sort per build;
      round 14 A/B at sf0.1: novelty 4.3 s → 1.6 s, plan loses the
      shuffle).  Values are bit-identical to both earlier forms and to the
      streaming row-local form (:func:`shingle_hashes_tokens`).
    * ``short_rows`` — ``(_id, _g)`` one row per document shorter than ``n``
      words, whose whole text is its single shingle (no document vanishes).
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        doc_tokens(df, text_col, tokens_col).alias("_w"),
    ).select("_id", "_w", F.size("_w").alias("_sz"))

    if n > _ZIP_MAX_N:
        long_pos = _build_long_window(base, n)
    else:
        long_pos = _build_long_zip(base, n)
    short_rows = base.where(F.col("_sz") < n).select(
        "_id", F.xxhash64(F.concat_ws(" ", "_w")).alias("_g")
    )
    if not keep_pos:
        long_pos = long_pos.select("_id", "_g")
    return long_pos, short_rows


def _band_buckets(sig_col: SparkColumn, bands: int, rows: int) -> SparkColumn:
    """array<struct<band:int, bucket:bigint>> — one LSH bucket per band."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(F.slice(sig_col, b * rows + 1, rows), lambda v: v.cast("string")),
                ),
                b,
            ).alias("bucket"),
        ),
    )


def _minhash_per_doc(
    df: DataFrame, id_col: str, text_col: str, n: int, k: int,
    tokens_col: str | None = None,
) -> DataFrame:
    """``(_id, _gs, _m0.._m{k-1})`` — hashed shingle set + k minhash
    permutations, computed in one per-document aggregation (the min over
    shingle occurrences equals the min over the set)."""
    long_inst, short_rows = _shingle_instance_frames(
        df, id_col, text_col, n, tokens_col=tokens_col
    )
    min_aggs = [
        F.min(F.xxhash64(F.col("_g"), F.lit(i))).alias(f"_m{i}") for i in range(k)
    ]
    per_doc_long = long_inst.groupBy("_id").agg(
        F.collect_set("_g").alias("_gs"), *min_aggs
    )
    per_doc_short = short_rows.select(
        "_id",
        F.array("_g").alias("_gs"),
        *[F.xxhash64(F.col("_g"), F.lit(i)).alias(f"_m{i}") for i in range(k)],
    )
    return per_doc_long.unionByName(per_doc_short)


def minhash_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    k: int = 32,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket_size: int = 1000,
    tokens_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs by MinHash-LSH with exact-Jaccard verification.

    Returns ``(id_l, id_r, jaccard)`` with ``id_l < id_r`` and shingle-set
    Jaccard ≥ ``threshold``.  With ``bands=16, rows=2`` the candidate recall
    at s=0.7 is 1-(1-s²)^16 ≈ 0.9999; every candidate is then verified with
    the exact Jaccard, so precision is 1.0 by construction.

    One per-document aggregation computes the shingle *set* and all ``k``
    minhash permutations together (map-side-combinable mins over the
    codegen'd shingle-hash instances; the min over occurrences equals the
    min over the set).  The shuffle carries ``k`` longs + the hashed set per
    document; the verify join ships 8-byte shingle hashes, not strings.
    """
    rows = k // bands
    # referenced twice (banded signatures + the verify join's shingle
    # sets): truncate lineage or the tokenize+shingle+k-min aggregation
    # re-executes per reference (self-join aliasing defeats exchange
    # reuse).  Lazy — nothing runs at plan build.
    per_doc = _minhash_per_doc(
        df, id_col, text_col, n, k, tokens_col=tokens_col
    ).transform(durable_checkpoint, eager=False)
    sig = F.array(*[F.col(f"_m{i}") for i in range(k)])
    # The banded frame carries only (id, band, bucket) — shingle sets would
    # be duplicated `bands`× through the explode and shuffle otherwise.
    sigs = per_doc.select(
        "_id", F.explode(_band_buckets(sig, bands, rows)).alias("_bb")
    ).select("_id", F.col("_bb.band").alias("_band"), F.col("_bb.bucket").alias("_bucket"))

    # Skew cap: drop pathological buckets before the quadratic self-join.
    # The capped frame feeds both self-join sides (aliased differently, so
    # the cap join would run twice) — truncate it too; (id, band, bucket)
    # rows are `bands` longs per document.
    sizes = sigs.groupBy("_band", "_bucket").count().where(F.col("count") <= max_bucket_size)
    sigs = sigs.join(sizes.select("_band", "_bucket"), ["_band", "_bucket"]).transform(
        durable_checkpoint, eager=False
    )

    left = sigs.select("_band", "_bucket", F.col("_id").alias("id_l"))
    right = sigs.select("_band", "_bucket", F.col("_id").alias("id_r"))
    cand = (
        left.join(right, ["_band", "_bucket"])
        .where(F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r")
        .dropDuplicates(["id_l", "id_r"])
    )
    # Exact-Jaccard verification: join the slim candidate pairs back to the
    # hashed shingle sets (each document's 8-byte-element array shipped once
    # per side).
    sets = per_doc.select("_id", "_gs")
    cand = cand.join(
        sets.select(F.col("_id").alias("id_l"), F.col("_gs").alias("_sh_l")), "id_l"
    ).join(sets.select(F.col("_id").alias("id_r"), F.col("_gs").alias("_sh_r")), "id_r")
    jac = F.size(F.array_intersect("_sh_l", "_sh_r")).cast("double") / F.size(
        F.array_union("_sh_l", "_sh_r")
    )
    return (
        cand.select("id_l", "id_r", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    k: int = 32,
    bands: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable MinHash index frames for a corpus.

    Returns ``(banded, sets)``:

    * ``banded`` — ``(id, _key)``, one row per (document, band) with
      ``_key = xxhash64(band, bucket)`` folded into a single 8-byte join
      key so the frame can be bucketed on ONE column;
    * ``sets`` — ``(id, _gs)``, the hashed shingle set used by the exact
      verify step.

    This is the piece a 100 TB pipeline persists between ingests
    (``write_bucketed(banded, key="_key")`` + ``write_bucketed(sets,
    key=id)``): new batches join against the stored frames with no corpus
    rescan, no retokenization, and — bucketed — no index-side Exchange
    (proved in ``tests/test_scale.py``).  :func:`minhash_join_index` is the
    matching ingest query.
    """
    # referenced by BOTH returned frames (banded + sets): truncating here
    # means a caller that materializes both — the persist path writes each
    # to its own bucketed table — runs the signature build once, not twice.
    per_doc = _minhash_per_doc(df, id_col, text_col, n, k).transform(
        durable_checkpoint, eager=False
    )
    sig = F.array(*[F.col(f"_m{i}") for i in range(k)])
    rows = k // bands
    banded = per_doc.select(
        F.col("_id").alias(id_col), F.explode(_band_buckets(sig, bands, rows)).alias("_bb")
    ).select(id_col, F.xxhash64(F.col("_bb.band"), F.col("_bb.bucket")).alias("_key"))
    sets = per_doc.select(F.col("_id").alias(id_col), "_gs")
    return banded, sets


def minhash_join_index(
    new_df: DataFrame,
    index_banded: DataFrame,
    index_sets: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    k: int = 32,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Dedup a new batch against a PERSISTED MinHash index.

    Same result contract as :func:`cross_corpus_dup_pairs` — ``(new_id,
    corpus_id, jaccard ≥ threshold)`` — but the corpus side comes from the
    stored :func:`minhash_index` frames instead of being re-derived, so an
    ingest touches the new batch plus only the index rows its buckets hit.
    MinHash parameters must match the ones the index was built with.
    """
    new_banded, new_sets = minhash_index(
        new_df, id_col, text_col, n=n, k=k, bands=bands
    )
    new_banded = new_banded.withColumnRenamed(id_col, "new_id")
    old_banded = index_banded.withColumnRenamed(id_col, "corpus_id")

    sizes = (
        old_banded.groupBy("_key").count().where(F.col("count") <= max_bucket_size)
    )
    old_banded = old_banded.join(sizes.select("_key"), "_key")

    cand = (
        new_banded.join(old_banded, "_key")
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    cand = cand.join(
        new_sets.select(F.col(id_col).alias("new_id"), F.col("_gs").alias("_sh_l")),
        "new_id",
    ).join(
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


def cross_corpus_dup_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    k: int = 32,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Which *new* documents duplicate an *existing* corpus document.

    The incremental-ingest shape: a fresh batch is deduplicated against an
    already-indexed corpus without ever self-joining either side.  Returns
    ``(new_id, corpus_id, jaccard)`` with shingle-set Jaccard ≥ ``threshold``.

    Bipartite MinHash-LSH: both sides get the one-aggregation signature
    build (:func:`_minhash_per_doc`); candidates come from a band equi-join
    *across* the sides only, so cost is keyed by bucket and proportional to
    true collisions — at 100 TB the corpus side's banded signatures are what
    you would persist between ingests (k longs + a band table per document,
    no retokenization of the corpus).
    """
    rows = k // bands

    def banded(per_doc: DataFrame) -> DataFrame:
        sig = F.array(*[F.col(f"_m{i}") for i in range(k)])
        return per_doc.select(
            "_id", F.explode(_band_buckets(sig, bands, rows)).alias("_bb")
        ).select(
            "_id", F.col("_bb.band").alias("_band"), F.col("_bb.bucket").alias("_bucket")
        )

    # each side is referenced twice (banded + the verify join), but AQE's
    # runtime stage reuse already dedupes the identical signature-build
    # exchanges here — a lineage-truncating checkpoint was A/B'd in round
    # 14 and REGRESSED (+17% on the x16 shape: materializing the shingle
    # sets costs more than the reuse saves), so the frames stay lazy.
    new_pd = _minhash_per_doc(new_df, id_col, text_col, n, k)
    old_pd = _minhash_per_doc(corpus_df, id_col, text_col, n, k)
    new_b = banded(new_pd).withColumnRenamed("_id", "new_id")
    old_b = banded(old_pd).withColumnRenamed("_id", "corpus_id")

    # Skew cap on the corpus side (the unbounded one at ingest time).
    sizes = (
        old_b.groupBy("_band", "_bucket").count().where(F.col("count") <= max_bucket_size)
    )
    old_b = old_b.join(sizes.select("_band", "_bucket"), ["_band", "_bucket"])

    cand = (
        new_b.join(old_b, ["_band", "_bucket"])
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    cand = cand.join(
        new_pd.select(F.col("_id").alias("new_id"), F.col("_gs").alias("_sh_l")), "new_id"
    ).join(
        old_pd.select(F.col("_id").alias("corpus_id"), F.col("_gs").alias("_sh_r")),
        "corpus_id",
    )
    jac = F.size(F.array_intersect("_sh_l", "_sh_r")).cast("double") / F.size(
        F.array_union("_sh_l", "_sh_r")
    )
    return (
        cand.select("new_id", "corpus_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, inverted index)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via a shingle inverted index.

    Returns ``(id_l, id_r, jaccard)`` with ``id_l < id_r`` and Jaccard ≥
    ``threshold`` over distinct word ``n``-gram sets.

    Plan shape (one pass over the shingle index, three keyed shuffles —
    no self-join, so the shingle explosion is computed once):

    1. explode shingles, keyed by the 64-bit shingle hash (8-byte shuffle
       keys; a collision needs two distinct shingles with equal xxhash64,
       ~n²/2⁶⁴ — negligible), carrying each document's set size inline;
    2. group by shingle → sorted id list (groups of size 1 are dropped
       before any pair is generated);
    3. per group, emit the C(d,2) ordered pairs via a two-level explode
       (``posexplode`` + ``slice`` — codegen'd Generate operators, no
       higher-order functions), then count shared shingles per pair.

    ``max_df`` (document-frequency cutoff) drops shingles occurring in more
    than that many documents *before* the pair stage — at web scale a single
    boilerplate shingle shared by m documents otherwise emits m²/2 pairs.
    Pass it for any corpus where the DF tail is unbounded; the resulting
    jaccard is computed with the *full* set sizes, so capped values are a
    lower bound on the true jaccard (shared counts only lose capped
    shingles).  Default ``None`` = exact.

    Shingle hashes come from :func:`_shingle_instance_frames` (codegen'd
    window-lead construction; its ``_id`` partitioning is reused by the
    ``collect_set`` aggregation, so the instance table is shuffled once).
    """
    long_inst, short_rows = _shingle_instance_frames(
        df, id_col, text_col, n, tokens_col=tokens_col
    )
    long_docs = (
        long_inst.groupBy("_id")
        .agg(F.collect_set("_g").alias("_gs"))
        .select("_id", F.size("_gs").alias("_n"), F.explode("_gs").alias("_g"))
    )
    short_docs = short_rows.select("_id", F.lit(1).alias("_n"), "_g")
    sh = long_docs.unionByName(short_docs)
    if max_df is not None:
        # sh feeds both the df-count aggregate and the keep join: truncate
        # lineage or the shingle+collect_set build runs twice.
        sh = durable_checkpoint(sh, eager=False)
        keep = sh.groupBy("_g").count().where(F.col("count") <= max_df).select("_g")
        sh = sh.join(keep, "_g")
    groups = (
        sh.groupBy("_g")
        .agg(F.sort_array(F.collect_list(F.struct("_id", "_n"))).alias("_ids"))
        .where(F.size("_ids") >= 2)
        .select("_ids")
    )
    pairs = (
        groups.select(F.posexplode("_ids").alias("_pos", "_l"), F.col("_ids"))
        .select(
            F.col("_l"),
            F.explode(
                F.slice(F.col("_ids"), F.col("_pos") + 2, F.size("_ids") - F.col("_pos") - 1)
            ).alias("_r"),
        )
        .groupBy(
            F.col("_l._id").alias("id_l"),
            F.col("_r._id").alias("id_r"),
        )
        .agg(
            F.count(F.lit(1)).alias("_shared"),
            F.any_value(F.col("_l._n")).alias("_nl"),
            F.any_value(F.col("_r._n")).alias("_nr"),
        )
    )
    return pairs.select(
        "id_l",
        "id_r",
        (
            F.col("_shared").cast("double")
            / (F.col("_nl") + F.col("_nr") - F.col("_shared"))
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def containment_pairs(
    probe_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    broadcast_probes: bool = True,
    tokens_col: str | None = None,
) -> DataFrame:
    """Corpus documents containing ≥ ``threshold`` of a probe's n-grams.

    The decontamination primitive: a benchmark item buried inside a long
    training document has tiny *Jaccard* similarity to it (the doc's extra
    grams swamp the union) but containment ``|probe ∩ doc| / |probe|`` ≈ 1.
    Returns ``(probe_id, doc_id, containment)`` over distinct word
    ``n``-gram sets, one row per pair above the threshold.

    Scale shape: the probe side (a benchmark suite) is small — its hashed
    shingle postings are BROADCAST, so the corpus postings stream (built
    once, codegen'd, 8-byte gram keys) is filtered map-side and only true
    collisions reach the per-pair count; the corpus is never self-joined
    and never shuffled by gram.  With ``broadcast_probes=False`` the same
    plan runs as a keyed equi-join for probe sets too large to broadcast.
    """
    probe_inst, probe_short = _shingle_instance_frames(probe_df, id_col, text_col, n)
    probe_sets = (
        probe_inst.unionByName(probe_short)
        .dropDuplicates(["_id", "_g"])
        .withColumnRenamed("_id", "_pid")
    )
    probe_sizes = probe_sets.groupBy("_pid").agg(F.count(F.lit(1)).alias("_pn"))

    corp_inst, corp_short = _shingle_instance_frames(
        corpus_df, id_col, text_col, n, tokens_col=tokens_col
    )
    corp_sets = corp_inst.unionByName(corp_short).dropDuplicates(["_id", "_g"])

    probes = F.broadcast(probe_sets) if broadcast_probes else probe_sets
    shared = (
        corp_sets.join(probes, "_g")
        .groupBy("_pid", "_id")
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    sizes = F.broadcast(probe_sizes) if broadcast_probes else probe_sizes
    return (
        shared.join(sizes, "_pid")
        .select(
            F.col("_pid").alias("probe_id"),
            F.col("_id").alias("doc_id"),
            (F.col("_shared").cast("double") / F.col("_pn")).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
    token_hash: str = "xxhash64",
    tokens_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs with SimHash hamming distance ≤ ``max_hamming``.

    Returns ``(id_l, id_r, hamming)``.  Fingerprints are banded into 4
    chunks: any pair within hamming ≤ 3 agrees exactly on at least one chunk
    (pigeonhole), so candidates come from an equi-join on (chunk index,
    chunk value) and are then verified with ``bit_count(xor)``.

    ``token_hash``: ``"xxhash64"`` (default — fastest, 64-bit fingerprints)
    or ``"md5_60"`` (60-bit fingerprints from the first 15 hex chars of
    md5).  md5 is engine-portable — DuckDB/Postgres/Trino compute the same
    digest — so an external system can recompute the fingerprints and
    verify the pipeline end-to-end (the x04 driver oracle does exactly
    that); xxhash64 values are Spark-specific.
    """
    if token_hash == "xxhash64":
        nbits, hash_col = 64, F.xxhash64("_t")
    elif token_hash == "md5_60":
        # 15 hex chars = 60 bits < 2^63: conv() stays exact in a signed long.
        nbits = 60
        hash_col = F.conv(F.substring(F.md5("_t"), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")

    # Explode + nbits codegen'd sum-aggregates: one token-hash pass, map-side
    # partial aggregation, nbits longs per document over the shuffle.
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode(doc_tokens(df, text_col, tokens_col)).alias("_t"),
    ).withColumn("_h", hash_col)
    vote_aggs = [
        F.sum(F.shiftrightunsigned(F.col("_h"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"_b{i}")
        for i in range(nbits)
    ]
    votes = ex.groupBy("_id").agg(*vote_aggs)
    fp_col = F.lit(0).cast("long")
    for i in range(nbits):
        weight = (1 << i) if i < 63 else -(1 << 63)
        fp_col = fp_col + F.when(F.col(f"_b{i}") > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    fp = votes.select("_id", fp_col.alias("_fp"))
    return hamming_pairs(
        fp,
        id_col="_id",
        fp_col="_fp",
        nbits=nbits,
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


def hamming_pairs(
    fp,
    id_col: str = "_id",
    fp_col: str = "_fp",
    *,
    nbits: int = 64,
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Pairs of rows whose bit-fingerprints differ by ≤ ``max_hamming``.

    The pigeonhole chunk join shared by every 64-bit-fingerprint family
    (text SimHash, media perceptual hashes): fingerprints band into
    ``max_hamming + 1`` chunks — a pair within the hamming budget cannot
    differ in EVERY chunk, so it agrees exactly on at least one —
    candidates come from the (chunk index, chunk value) equi-join (hot
    buckets capped), verified with ``bit_count(xor)``.  The band count
    DERIVES from ``max_hamming`` (a fixed 4-band split would silently
    lose recall for budgets > 3).  Returns ``(id_l, id_r, hamming)``.
    """
    n_bands = max_hamming + 1
    if n_bands > nbits:
        raise ValueError(f"max_hamming={max_hamming} needs more bands than {nbits} bits")
    base_bits, rem = divmod(nbits, n_bands)
    widths = [base_bits + (1 if b < rem else 0) for b in range(n_bands)]
    offsets = [sum(widths[:b]) for b in range(n_bands)]
    # a 64-bit band's mask is all-ones — that is -1 in the signed long
    # Spark literals use ((1<<64)-1 overflows)
    masks = [((1 << w) - 1) if w < 64 else -1 for w in widths]
    base = fp.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_fp"))
    chunks = base.select(
        "_id",
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("_fp"), offsets[b])
                        .bitwiseAND(F.lit(masks[b]))
                        .alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_bb"),
    ).select("_id", "_fp", F.col("_bb.band").alias("_band"), F.col("_bb.bucket").alias("_bucket"))

    # chunks is referenced by the bucket-size aggregate AND the cap join,
    # and the capped frame by both self-join sides — truncate lineage at
    # both points or the fingerprint build (for simhash, the per-token
    # vote aggregation) re-executes up to three times.  Both frames are
    # (n_bands + fp) longs per row.
    chunks = durable_checkpoint(chunks, eager=False)
    sizes = chunks.groupBy("_band", "_bucket").count().where(F.col("count") <= max_bucket_size)
    chunks = chunks.join(sizes.select("_band", "_bucket"), ["_band", "_bucket"]).transform(
        durable_checkpoint, eager=False
    )

    left = chunks.select("_band", "_bucket", F.col("_id").alias("id_l"), F.col("_fp").alias("_fp_l"))
    right = chunks.select("_band", "_bucket", F.col("_id").alias("id_r"), F.col("_fp").alias("_fp_r"))
    hamming = F.bit_count(F.col("_fp_l").bitwiseXOR(F.col("_fp_r")))
    return (
        left.join(right, ["_band", "_bucket"])
        .where(F.col("id_l") < F.col("id_r"))
        .dropDuplicates(["id_l", "id_r"])
        .select("id_l", "id_r", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Embedding near-dup
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def _plane_signature(vec: SparkColumn, planes: list[list[float]]) -> SparkColumn:
    """Random-hyperplane sign bucket (bigint) for a float-array column."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(float(w)) for w in plane]), lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def _bucketed(base: DataFrame, planes: list[list[float]]) -> DataFrame:
    """``base`` with ``_v`` replaced by its unit vector and a ``_bucket``:
    the raw vector's sign bucket, or NULL for a row :func:`unit` does not
    admit.  Every cosine of such a row is NULL and fails the threshold, so
    its NULL bucket keeps it out of the bucket join instead of pairing it
    with every row of its bucket first (a NaN vector signs into the
    all-bits bucket)."""
    from .similarity import unit

    return (
        base.withColumn("_u", unit(F.col("_v")))
        .withColumn(
            "_bucket",
            F.when(F.col("_u").isNotNull(), _plane_signature(F.col("_v"), planes)),
        )
        .withColumn("_v", F.col("_u"))
        .drop("_u")
    )


#: estimated pair count at which the pair scorers leave the interpreted
#: fold for the Arrow kernels.  Interleaved A/Bs on local[4] put the
#: crossover between 125k pairs (a 500-row brute scan, fold faster) and
#: 500k (4,000 rows in 16 cells, arrow faster).
_ARROW_PAIRS = 1 << 18


def _pair_engine(bound: int | None, cells: int, where: str) -> str:
    """The one choice between the two pair scorers, ``"fold"`` or
    ``"arrow"``, made from ``bound`` (:func:`~dftly_spark.io._row_bound`
    of the input, which costs no job) and the number of cells pairs are
    scored within, and logged (INFO) with its inputs either way.

    Balanced cells hold ``bound² / (2·cells)`` pairs.  From
    ``_ARROW_PAIRS`` estimated pairs the Arrow kernels score
    (:func:`_cell_pairs_arrow`, :func:`_allpairs_arrow`): each vector
    crosses into Python once and the pairs expand in numpy, which wins
    ~20× at 50M pairs but pays a fixed Python-worker cost.  Below it, or
    where the plan gives no bound, the interpreted fold over the pair
    join scores.  Both give bit-identical cosines, so the choice never
    changes a result."""
    pairs = None if bound is None else bound * bound // (2 * cells)
    choice = "arrow" if pairs is not None and pairs >= _ARROW_PAIRS else "fold"
    logging.getLogger(__name__).info(
        "%s: %s pair scorer at %s estimated pairs (row bound %s, %d cells; arrow from %s)",
        where, choice, pairs, bound, cells, _ARROW_PAIRS,
    )
    return choice


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    method: str = "brute",
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Pairs with cosine similarity ≥ ``threshold``: ``(id_l, id_r, cos)``.

    ``method="brute"`` — O(n²) broadcast nested-loop; the exact baseline for
    verification and small tables only.  ``method="lsh"`` — the 100 TB path:
    random-hyperplane sign buckets, then exact cosine verified within
    buckets (keyed equi-join shuffle, linear candidate cost).  Precision is
    1.0 by construction (every emitted pair is exact-cosine checked); recall
    covers any pair whose members share a bucket — in particular, pairs that
    are positive scalings of each other have *identical* sign signatures and
    are never missed.

    The pairwise cosines are scored by the interpreted per-pair fold or
    by the vectorized Arrow kernels, as :func:`_pair_engine` picks from
    the input's row bound over ``2**n_planes`` buckets (``lsh``) or one
    cell (``brute``); the values are BIT-IDENTICAL either way.  On arrow
    each sign bucket is one ``applyInPandas`` group (``lsh``), or the
    all-pairs work spreads over hash block pairs (``brute``,
    :func:`_allpairs_arrow`) instead of riding one broadcast nested loop.
    """
    from .similarity import dot, infer_dim, unit

    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    cells = 2**n_planes if method == "lsh" else 1
    scorer = _pair_engine(_row_bound(df), cells, f"embedding_dup_pairs(method={method!r})")
    if method == "lsh":
        if dim is None:
            dim = infer_dim(df, vec_col)
        # both self-join sides read base: truncate lineage or the plane-
        # signature + normalize folds (interpreted, n_planes x dim ops per
        # row) run twice.
        base = durable_checkpoint(_bucketed(base, _hyperplanes(dim, n_planes, seed)), eager=False)
        if scorer == "arrow":
            return _cell_pairs_arrow(base, threshold, cell_col="_bucket")
        join_keys = ["_bucket"]
        left = base.select(*join_keys, F.col("_id").alias("id_l"), F.col("_v").alias("_vl"))
        right = base.select(*join_keys, F.col("_id").alias("id_r"), F.col("_v").alias("_vr"))
        cand = left.join(right, join_keys).where(F.col("id_l") < F.col("id_r"))
    else:
        # Pre-normalize once per row so each pair costs one dot product;
        # truncate lineage so the normalize fold isn't recomputed for the
        # broadcast side.
        base = durable_checkpoint(
            base.withColumn("_v", unit(F.col("_v"))), eager=False
        )
        if scorer == "arrow":
            return _allpairs_arrow(base, threshold)
        left = base.select(F.col("_id").alias("id_l"), F.col("_v").alias("_vl"))
        right = base.select(F.col("_id").alias("id_r"), F.col("_v").alias("_vr"))
        cand = left.join(F.broadcast(right), F.col("id_l") < F.col("id_r"))
    cos = dot(F.col("_vl"), F.col("_vr"))
    return cand.select("id_l", "id_r", cos.alias("cos")).where(F.col("cos") >= threshold)


def cross_corpus_embedding_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Which *new* embeddings near-duplicate an *existing* corpus vector.

    Bipartite twin of ``embedding_dup_pairs(method="lsh")`` — the
    incremental-ingest shape for vectors (mirrors
    :func:`cross_corpus_dup_pairs` for text): both sides get hyperplane
    sign buckets from the SAME seeded planes, candidates come from the
    bucket equi-join *across* sides only (neither side is self-joined), and
    every candidate is exact-cosine verified.  Returns ``(new_id,
    corpus_id, cos)`` with cos ≥ ``threshold``.  At 100 TB the corpus
    side's ``(id, bucket, unit-vector)`` frame is what you'd persist
    between ingests — new batches bucket against it with no corpus rescan.
    """
    from .similarity import dot, infer_dim

    if dim is None:
        dim = infer_dim(corpus_df, vec_col)
    planes = _hyperplanes(dim, n_planes, seed)

    def prep(df: DataFrame, out_id: str) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        return _bucketed(base, planes)

    new_b = prep(new_df, "new_id").withColumnRenamed("_v", "_vl")
    old_b = prep(corpus_df, "corpus_id").withColumnRenamed("_v", "_vr")
    cos = dot(F.col("_vl"), F.col("_vr"))
    return (
        new_b.join(old_b, "_bucket")
        .select("new_id", "corpus_id", cos.alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def dup_clusters(
    pairs: DataFrame,
    id_l: str = "id_l",
    id_r: str = "id_r",
    *,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over duplicate pairs → ``(doc_id, cluster_id)``.

    Pair-level dedup (x02–x05) says *who* matches; keeping one survivor per
    GROUP needs the transitive closure.  Min-label propagation: every node
    starts labeled with itself, and each round takes the min label across
    itself and its neighbors, converging in O(graph diameter) rounds —
    near-dup clusters are shallow (stars/chains of a few docs), so this is
    2–3 keyed shuffles in practice, with ``durable_checkpoint`` truncating
    the iterative lineage each round (reliable once the session has a
    checkpoint dir, local otherwise).
    ``cluster_id`` is the smallest doc id in the component.
    """
    # Symmetrize with a row-local explode (not a self-union) so an expensive
    # upstream pairs pipeline — e.g. the full MinHash join — executes once.
    edges = (
        pairs.select(
            F.col(id_l).cast("long").alias("a"), F.col(id_r).cast("long").alias("b")
        )
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .distinct()
        .transform(durable_checkpoint)
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(durable_checkpoint)
    )
    for _ in range(max_iter):
        nbr = edges.join(labels, edges["b"] == labels["node"]).select(
            edges["a"].alias("node"), labels["label"].alias("label")
        )
        # Carry each node's previous label ("_own") through the same
        # aggregation so convergence is a scan-only filter over the
        # checkpointed result — one keyed shuffle per round, no extra join.
        new = (
            labels.select("node", "label", F.col("label").alias("_own"))
            .unionByName(nbr.withColumn("_own", F.lit(None).cast("long")))
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.min("_own").alias("_own"))
            .transform(durable_checkpoint)
        )
        changed = new.where(F.col("label") < F.col("_own")).limit(1).count()
        labels = new.select("node", "label")
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_centroids: int = 16,
    strategy: str = "first",
    seed: int = 42,
    kmeans_iters: int = 5,
    kmeans_init: str = "sample",
    max_cell_size: int | None = None,
) -> DataFrame:
    """Semantic near-duplicate pairs via cluster-then-prune (SemDeDup shape).

    Embedding-space dedup that bounds the quadratic term by clustering
    first: every vector is assigned to its nearest centroid cell and exact
    cosine runs only *within* a cell — a keyed equi-join on cell id, never
    an all-pairs scan.  With balanced cells the pairwise work is
    ``n²/n_centroids``, and ``n_centroids`` grows with the corpus (SemDeDup
    used 50k clusters for LAION); ``max_cell_size`` hard-caps degenerate
    cells (deterministic lowest-id members kept) so one hot cell can never
    go quadratic.  Recall < 1 by design: near-dups straddling a cell
    boundary are missed — the price of linearizing the scan.

    Returns ``(id_l, id_r, cos)`` with ``id_l < id_r`` and ``cos ≥
    threshold``, both members in the same cell.  Cosine folds are
    bit-identical with DuckDB's ``list_dot_product`` replay.
    ``n_centroids`` picks the cell-assignment scorer as in
    :func:`~dftly_spark.ops.similarity.assign_cells`; at 1024 cells and
    above its last-ulp caveat can move a row to an effectively-tied cell.

    The within-cell cosines are scored by the cell self-join and the
    interpreted JVM fold, or by the per-cell vectorized kernel
    (:func:`_cell_pairs_arrow`, BIT-IDENTICAL values; one cell's n×n
    double matrix per task, so cap degenerate cells with
    ``max_cell_size`` at scale), as :func:`_pair_engine` picks from the
    corpus's row bound over ``n_centroids`` cells.
    """
    from .similarity import assign_cells, choose_centroid_frame, dot

    scorer = _pair_engine(_row_bound(corpus), n_centroids, "semantic_dedup_pairs")
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
    cells = assign_cells(corpus, cents, n_centroids, id_col=id_col, vec_col=vec_col)
    if max_cell_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("_cell").orderBy("_id")
        cells = (
            cells.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_cell_size)
            .drop("_rn")
        )
    # cells feeds both sides of the within-cell self-join: truncate
    # lineage or the centroid-assignment argmax (k x dim multiply-adds
    # per row) runs twice.
    cells = durable_checkpoint(cells, eager=False)
    if scorer == "arrow":
        return _cell_pairs_arrow(cells, threshold)
    left = cells.select(
        "_cell", F.col("_id").alias("id_l"), F.col("_v").alias("_vl")
    )
    right = cells.select(
        "_cell", F.col("_id").alias("id_r"), F.col("_v").alias("_vr")
    )
    # SHUFFLE_HASH on one side: max_cell_size bounds a cell, so the
    # per-partition build is capped, and SMJ would sort both vector
    # streams by cell id (round-14 conf A/B: x46 -0.5 s).  Only hinted
    # when the cap is actually set — shuffled-hash cannot spill its
    # build side, so an uncapped hot cell must keep sort-merge's
    # graceful-spill default (round-15, from round-14 advice).
    if max_cell_size is not None:
        right = right.hint("shuffle_hash")
    return (
        left.join(right, "_cell")
        .where(F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r", dot(F.col("_vl"), F.col("_vr")).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def _no_pairs():
    """The pair kernels' empty ``(id_l, id_r, cos)`` frame."""
    import pandas as pd

    return pd.DataFrame(
        {
            "id_l": pd.Series(dtype="int64"),
            "id_r": pd.Series(dtype="int64"),
            "cos": pd.Series(dtype="float64"),
        }
    )


def _pair_matrix(pdf):
    """``(ids, M)`` for the pair kernels: a non-empty batch of non-NULL
    ``(_id, _v)`` rows sorted by id (stable) as a float64 matrix."""
    import numpy as np

    ids = pdf["_id"].to_numpy()
    order = np.argsort(ids, kind="stable")
    return ids[order], np.stack(pdf["_v"].to_numpy()[order])


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


def _self_pairs(ids, M, threshold: float):
    """Qualifying pairs within one set of rows, each once as ``(lower,
    higher)`` in id order; equal-id pairs are skipped, as the fold's
    ``id_l < id_r`` predicate skips them."""
    import numpy as np
    import pandas as pd

    if len(ids) < 2:
        return _no_pairs()
    C = _cos_matrix(M, M)
    iu, ju = np.triu_indices(len(ids), k=1)
    cos = C[iu, ju]
    mask = (cos >= threshold) & (ids[iu] != ids[ju])
    return pd.DataFrame({"id_l": ids[iu[mask]], "id_r": ids[ju[mask]], "cos": cos[mask]})


def _cell_pairs_arrow(
    cells: DataFrame, threshold: float, cell_col: str = "_cell"
) -> DataFrame:
    """Within-cell qualifying pairs via a per-cell vectorized cosine that is
    BIT-IDENTICAL to the JVM fold path.

    The fold path (guide §4.1) enumerates the ~``Σ C(cell,2)`` pairs as join
    rows and evaluates an interpreted ``zip_with``+``aggregate`` per pair —
    measured 42 s of 43 s total at 50M pairs × dim 64 (sf1.0, round 15).
    Here each cell's vectors cross the Arrow boundary ONCE (corpus-sized,
    not pairs-sized — the pair expansion happens inside numpy, guide §4.2)
    and the cosine matrix accumulates in ASCENDING DIMENSION ORDER:
    ``C += M[:,k] ⊗ M[:,k]`` for k = 0..dim-1 performs, for every pair,
    exactly the fold's sequence of IEEE-double multiply-then-add — NOT a
    BLAS matmul (which reorders accumulation and carries the last-ulp
    caveat ``_assign_cells_arrow`` documents).  Hash-pinned oracles stay
    bit-exact, which is why :func:`_pair_engine` may pick this path by
    size alone.

    Memory: one cell's ``n×n`` double matrix per task (~66 MB at n≈2.9k);
    pair with ``max_cell_size`` at scale exactly like the join path's
    skew cap.  A row with a NULL cell never reaches Python, as the fold's
    equi-join on the cell never matches it; NULL vectors (every vector
    ``unit`` does not admit) are dropped before the ``n×n`` work — the
    fold path's NULL cosine fails the threshold the same way.  Equal-id pairs are never emitted, matching
    the fold's ``id_l < id_r`` predicate when the id column has duplicates.
    Requires fixed-dimension vectors (the corpus contract every embedding
    op in this module already states).
    """
    import pandas as pd

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf["_v"].notna()]
        if len(pdf) < 2:
            return _no_pairs()
        return _self_pairs(*_pair_matrix(pdf), threshold)

    id_type = cells.schema["_id"].dataType.simpleString()
    return (
        cells.select(cell_col, "_id", "_v")
        .where(F.col(cell_col).isNotNull())
        .groupBy(cell_col)
        .applyInPandas(per_cell, f"id_l {id_type}, id_r {id_type}, cos double")
    )


def _allpairs_arrow(
    base: DataFrame, threshold: float, blocks: int | None = None
) -> DataFrame:
    """All-pairs qualifying cosines via BLOCK-PAIR vectorized evaluation —
    the parallel form of :func:`_cell_pairs_arrow` for the brute (no-cell)
    case, same bit-exact ascending-dimension accumulation.

    Rows split into ``blocks`` deterministic hash blocks; every unordered
    block pair (i <= j) is one ``applyInPandas`` group holding both blocks'
    rows (each row replicates ``blocks`` times — B·n tagged rows, trivial
    next to the n² pair work), so the O(n²) compute spreads over
    B(B+1)/2 tasks instead of serializing on one.  ``blocks`` defaults to
    the smallest B with B(B+1)/2 >= defaultParallelism.  Cosines are
    symmetric bit-for-bit (per-k products commute, add order equal), so
    emitting each cross pair once as (min id, max id) matches the join
    path's ``id_l < id_r`` enumeration exactly.
    """
    import pandas as pd

    if blocks is None:
        p = base.sparkSession.sparkContext.defaultParallelism
        blocks = 1
        while blocks * (blocks + 1) // 2 < p:
            blocks += 1

    def per_block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf[pdf["_v"].notna()]
        if len(pdf) < 2:
            return _no_pairs()
        lo, hi = int(pdf["_lo"].iloc[0]), int(pdf["_hi"].iloc[0])
        if lo == hi:
            # duplicate ids share a hash block, so only this branch can
            # pair a row with an equal id
            return _self_pairs(*_pair_matrix(pdf), threshold)
        a = pdf[pdf["_blk"] == lo]
        b = pdf[pdf["_blk"] == hi]
        if len(a) == 0 or len(b) == 0:
            return _no_pairs()
        ia, Ma = _pair_matrix(a)
        ib, Mb = _pair_matrix(b)
        C = _cos_matrix(Ma, Mb)
        gi, gj = np.meshgrid(np.arange(len(ia)), np.arange(len(ib)), indexing="ij")
        il = np.minimum(ia[gi.ravel()], ib[gj.ravel()])
        ir = np.maximum(ia[gi.ravel()], ib[gj.ravel()])
        cos = C.ravel()
        mask = cos >= threshold
        return pd.DataFrame({"id_l": il[mask], "id_r": ir[mask], "cos": cos[mask]})

    id_type = base.schema["_id"].dataType.simpleString()
    tagged = (
        base.select("_id", "_v")
        .withColumn("_blk", F.pmod(F.xxhash64("_id"), F.lit(blocks)).cast("int"))
        .withColumn("_j", F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))))
        .withColumn("_lo", F.least("_blk", "_j"))
        .withColumn("_hi", F.greatest("_blk", "_j"))
    )
    return tagged.groupBy("_lo", "_hi").applyInPandas(
        per_block_pair, f"id_l {id_type}, id_r {id_type}, cos double"
    )


def semantic_dedup(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    **kwargs,
) -> DataFrame:
    """Drop semantic near-duplicates, keeping each group's lowest-id member.

    A row is removed iff it matches a *lower-id* row in its cell at ``cos ≥
    threshold`` (the deterministic SemDeDup keep-one rule; no transitive
    closure — chain members each match their own lower neighbor).  Returns
    the surviving corpus rows unchanged; the victims anti-join is keyed on
    ``id_col``, one shuffle."""
    pairs = semantic_dedup_pairs(
        corpus, id_col=id_col, vec_col=vec_col, threshold=threshold, **kwargs
    )
    victims = pairs.select(F.col("id_r").alias(id_col)).distinct()
    return corpus.join(victims, id_col, "left_anti")


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_dist: int = 1,
    max_len: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate SHORT strings within Levenshtein ``max_dist`` (1 or 2).

    The SymSpell deletion-neighborhood join: every string emits itself
    plus all strings reachable by ``max_dist`` character deletions; two
    strings within edit distance d always share a neighborhood member
    (delete each side's substituted/inserted characters), so candidate
    generation is a plain equi-join on an 8-byte variant hash — linear in
    the corpus with per-string fan-out ``O(len^max_dist)``, never an
    all-pairs comparison.  Shared membership can overshoot (i deletions
    one side + j the other bounds distance by i+j), so every candidate is
    verified with the real ``levenshtein``; identical strings (distance
    0) are excluded — that's :func:`exact_dedup`'s job.

    Designed for short strings — titles, names, codes.  Strings longer
    than ``max_len`` are EXCLUDED from matching (the fan-out guard; two
    long texts near each other belong to :func:`minhash_dup_pairs`).
    ``max_bucket_size`` drops degenerate variant buckets (e.g. the empty
    string for 1-char inputs) exactly like the LSH bucket cap.

    Returns ``(id_l, id_r, dist)`` with ``id_l < id_r``.
    """
    if max_dist not in (1, 2):
        raise ValueError(f"max_dist must be 1 or 2, got {max_dist}")
    s = F.col(text_col)
    base = df.select(F.col(id_col).alias("_id"), s.alias("_s")).where(
        s.isNotNull() & (F.length(s) <= max_len) & (F.length(s) >= 1)
    )
    # one deletion per position, as a codegen'd higher-order transform
    d1 = (
        "transform(sequence(1, length({v})), i -> "
        "concat(substring({v}, 1, i-1), substring({v}, i+1, {L})))"
    )
    v1 = F.array_union(F.array(F.col("_s")), F.expr(d1.format(v="_s", L=max_len)))
    if max_dist == 2:
        inner = d1.format(v="v", L=max_len)
        v2 = F.expr(
            f"array_distinct(flatten(transform(_v1, v -> "
            f"case when length(v) < 1 then array(v) "
            f"else array_union(array(v), {inner}) end)))"
        )
        varied = base.withColumn("_v1", v1).select(
            "_id", "_s", v2.alias("_vars")
        )
    else:
        varied = base.select("_id", "_s", v1.alias("_vars"))
    # the exploded variant rows feed both self-join sides (and the hot-
    # bucket aggregate): truncate before the explode so the O(len^max_dist)
    # neighborhood generation — an interpreted nested transform — runs
    # once; the explode+hash below it is codegen'd and cheap to repeat.
    varied = durable_checkpoint(varied, eager=False)
    inst = varied.select(
        "_id", "_s", F.explode("_vars").alias("_v")
    ).select("_id", "_s", F.xxhash64("_v").alias("_h"))
    if max_bucket_size is not None:
        hot = (
            inst.groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket_size)
            .select("_h")
        )
        inst = inst.join(hot, "_h", "left_anti")
    l = inst.select(
        F.col("_h"), F.col("_id").alias("id_l"), F.col("_s").alias("_sl")
    )
    r = inst.select(
        F.col("_h"), F.col("_id").alias("id_r"), F.col("_s").alias("_sr")
    )
    cand = (
        l.join(r, "_h")
        .where(F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r", "_sl", "_sr")
        .distinct()
    )
    dist = F.levenshtein(F.col("_sl"), F.col("_sr"))
    return (
        cand.select("id_l", "id_r", dist.alias("dist"))
        .where((F.col("dist") >= 1) & (F.col("dist") <= max_dist))
    )


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    *,
    order_col: str | None = None,
    keep: str = "max",
    id_l: str = "id_l",
    id_r: str = "id_r",
) -> DataFrame:
    """Collapse duplicate PAIRS to one surviving row per duplicate group.

    The user-facing end of every pair generator (minhash / simhash /
    embedding / edit-distance): transitive-close the pairs
    (:func:`dup_clusters`), rank each cluster by ``order_col`` (``keep`` ∈
    ``max``/``min``, id ascending as the deterministic tie-break — with no
    ``order_col`` the lowest id wins), and return ``df`` filtered to
    survivors.  Rows never mentioned in a pair survive untouched, so the
    output is always a subset of ``df`` with exactly one row per group.

    Cost = the label propagation (O(diameter) keyed shuffles on the PAIR
    graph — usually tiny next to the corpus) + one window rank over
    cluster members only + a left-anti join back; the corpus itself is
    never shuffled on anything but the final membership probe.
    """
    if keep not in ("max", "min"):
        raise ValueError(f"keep must be 'max' or 'min', got {keep!r}")
    clusters = dup_clusters(pairs, id_l, id_r)  # (doc_id, cluster_id)
    members = clusters.join(
        df.select(F.col(id_col).alias("doc_id"),
                  *( [F.col(order_col).alias("_ord")] if order_col else [] )),
        "doc_id",
    )
    # nulls LAST either way: a row with no score must only survive when
    # nothing scored exists (plain asc would let a null win keep='min')
    order = (
        [
            F.col("_ord").desc_nulls_last()
            if keep == "max"
            else F.col("_ord").asc_nulls_last()
        ]
        if order_col
        else []
    ) + [F.col("doc_id").asc()]
    w = Window.partitionBy("cluster_id").orderBy(*order)
    losers = (
        members.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") > 1)
        .select(F.col("doc_id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def _hashed_shingle_sets(df, id_col: str, text_col: str, n: int):
    """Distinct ``(_id, _g)`` hashed shingle incidence rows.

    The codegen row-local instance build (:func:`_shingle_instance_frames`)
    followed by one ``(_id, _g)`` dedup.  Consumers (novelty /
    source-overlap) expose only COUNTS derived from the grouping, never the
    hash values themselves, so the internal key is the fast multi-argument
    ``xxhash64`` — the portable-md5 formulation this replaces (round 14)
    spent its time in the interpreted per-gram ``transform`` lambda plus
    md5-hex + base-conv per shingle (A/B at sf0.1: novelty 4.3 s → 1.6 s,
    identical output).  Oracles replay the same counts with md5 keys —
    equality holds because both keys are collision-free partitions of the
    same gram sets at any realistic corpus size.  Empty documents
    contribute nothing; the build is row-local, so the FIRST shuffle a
    consumer pays is the dedup's own ``(_id, _g)`` exchange.
    """
    base = df.where(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    )
    long_inst, short_rows = _shingle_instance_frames(base, "_id", "_t", n)
    return long_inst.unionByName(short_rows).dropDuplicates(["_id", "_g"])


def novelty_scores(
    df,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    order_col: str | None = None,
) -> DataFrame:
    """Per-document n-gram novelty against everything EARLIER in the corpus.

    For each document: the fraction of its distinct word ``n``-grams whose
    FIRST corpus occurrence (by ``order_col``, default the id itself; ties
    to the smallest id) is this document.  High novelty = fresh content;
    near-zero = boilerplate or near-dup of earlier material — the
    streaming-corpus freshness signal next to ``dup_ngram_fraction``'s
    symmetric repetition fraction.  Output: ``(id_col, n_shingles,
    n_novel, novelty)``.

    Scale shape: each shingle's first owner comes from a min WINDOW over
    the shingle key (min over a (order, id) struct — deterministic under
    ties; a bare ``min(id)`` when the order IS the id), so the corpus
    shingle-instance frame is built ONCE and shuffles ONCE — no join
    back, and nothing corpus-shingle-sized is ever broadcast (the
    groupBy-then-join formulation this replaces let Catalyst broadcast
    the per-shingle aggregate: a driver OOM at real corpus sizes and
    measurably slower even at sf0.1).  The per-doc roll-up is one keyed
    agg.  Linear in corpus shingles; no pairwise anything.
    """
    base = df.select(F.col(id_col).alias("__nid"), F.col(text_col).alias("__ntext"))
    sets = _hashed_shingle_sets(base, "__nid", "__ntext", n)
    w = Window.partitionBy("_g")
    if order_col is None:
        # order == id: first owner is simply the smallest id
        keyed = sets.withColumn("_f", F.min("_id").over(w))
        is_first = F.col("_f") == F.col("_id")
    else:
        omap = df.select(
            F.col(id_col).alias("_id"), F.col(order_col).alias("_o")
        )
        keyed = sets.join(omap, "_id").withColumn(
            "_f", F.min(F.struct(F.col("_o"), F.col("_id"))).over(w)
        )
        is_first = (F.col("_f._o") == F.col("_o")) & (
            F.col("_f._id") == F.col("_id")
        )
    novel = keyed.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.when(is_first, 1).otherwise(0)).alias("n_novel"),
    )
    return novel.select(
        F.col("_id").alias(id_col),
        "n_shingles",
        "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_shingles")).alias("novelty"),
    )


def source_overlap(
    df,
    group_col: str,
    text_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Corpus-level overlap between groups (sources): exact shingle-set
    Jaccard and directional containment per group pair.

    The between-corpora analog of the per-document dedup ops: "how much of
    source A's n-gram vocabulary is inside source B" — the first question
    before mixing corpora or hunting cross-source contamination.  Output:
    one row per unordered group pair that shares ≥1 shingle —
    ``(group_a, group_b, inter, size_a, size_b, jaccard, containment_a,
    containment_b)``.

    Scale shape: distinct (group, shingle) incidence (one agg), group
    sizes (one agg of that), and the pair counts from the basket explode
    (ops/assoc.py ``basket_pairs``) keyed on the shingle — each shingle's
    group set is at most #sources wide, so the collect is tiny and the
    incidence frame shuffles ONCE instead of twice through a self-join;
    pair fanout is ≤ C(groups, 2) per shingle, never corpus².
    """
    from .assoc import basket_pairs

    # _hashed_shingle_sets already dedups (_id, _g) — it IS the distinct
    # (group, shingle) incidence frame; no second exchange needed.
    sets = _hashed_shingle_sets(df, group_col, text_col, n)
    sizes = sets.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    inter = (
        basket_pairs(sets, "_g", "_id")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .select(
            F.col("item_a").alias("_ga"), F.col("item_b").alias("_gb"), "inter"
        )
    )
    sa = sizes.select(F.col("_id").alias("_ga"), F.col("_sz").alias("size_a"))
    sb = sizes.select(F.col("_id").alias("_gb"), F.col("_sz").alias("size_b"))
    return (
        inter.join(F.broadcast(sa), "_ga")
        .join(F.broadcast(sb), "_gb")
        .select(
            F.col("_ga").alias("group_a"),
            F.col("_gb").alias("group_b"),
            "inter",
            "size_a",
            "size_b",
            (
                F.col("inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("inter"))
            ).alias("jaccard"),
            (F.col("inter").cast("double") / F.col("size_a")).alias("containment_a"),
            (F.col("inter").cast("double") / F.col("size_b")).alias("containment_b"),
        )
    )


def pair_quality(
    pred: DataFrame,
    truth: DataFrame,
    *,
    id_l: str = "id_l",
    id_r: str = "id_r",
) -> DataFrame:
    """Precision/recall/F1 of a predicted duplicate-pair set against a
    ground-truth pair set — the dedup-tuning metric (the pair-level twin
    of :func:`~dftly_spark.ops.similarity.topk_recall`): sweep LSH bands
    / SimHash bits / thresholds on a labeled slice and read off the
    operating point before committing a 100 TB pass.

    Pairs are UNORDERED and may repeat: both inputs normalize to
    ``(min, max)`` and dedup first, so orientation flips and duplicate
    emissions can never skew the counts.  Rows with a null member are
    DROPPED before counting (``least``/``greatest`` skip nulls, so a
    ``(null, 5)`` row — e.g. out of an outer-joined candidate frame —
    would otherwise fabricate a ``(5, 5)`` self-pair and skew
    precision).  Returns ONE row:
    ``(n_pred, n_truth, n_hit, precision, recall, f1)`` with null
    ratios when their denominator is empty (no silent 0-vs-undefined
    conflation).

    Scale shape: two keyed dedups + one semi-join on the normalized pair
    key, then three 1-row count aggregates attached by broadcast — the
    pair frames are the op's inputs (already sub-corpus-sized for any
    sane candidate generator); nothing here scales with the corpus.
    """
    def norm(df: DataFrame) -> DataFrame:
        return (
            df.where(F.col(id_l).isNotNull() & F.col(id_r).isNotNull())
            .select(
                F.least(F.col(id_l), F.col(id_r)).alias("_a"),
                F.greatest(F.col(id_l), F.col(id_r)).alias("_b"),
            )
            .dropDuplicates(["_a", "_b"])
        )

    # each normalized pair frame is referenced twice (the hit semi-join +
    # its own count); AQE's runtime stage reuse dedupes the identical
    # dropDuplicates exchanges, so no lineage truncation here (A/B'd in
    # round 14: a checkpoint pair regressed the x154 shape ~9%).
    p, t = norm(pred), norm(truth)
    hit = p.join(t, ["_a", "_b"], "left_semi")
    stats = (
        p.agg(F.count(F.lit(1)).alias("n_pred"))
        .crossJoin(F.broadcast(t.agg(F.count(F.lit(1)).alias("n_truth"))))
        .crossJoin(F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_hit"))))
    )
    prec = F.when(
        F.col("n_pred") > 0, F.col("n_hit") / F.col("n_pred")
    ).alias("precision")
    rec = F.when(
        F.col("n_truth") > 0, F.col("n_hit") / F.col("n_truth")
    ).alias("recall")
    out = stats.select("n_pred", "n_truth", "n_hit", prec, rec)
    f1 = F.when(
        F.col("precision").isNotNull()
        & F.col("recall").isNotNull()
        & ((F.col("precision") + F.col("recall")) > 0),
        2 * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    )
    return out.select("*", f1.alias("f1"))
