"""Table-level operators for large-scale training-data pipelines.

These extend the reference's expression surface (SURVEY.md §7.3 step 10 /
BASELINE.json north star) with the operations a 100 TB text/embedding pipeline
needs: deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding
cosine), similarity search, text analysis, and multimodal column plumbing.

Design rules (SURVEY.md §7.3, the 100 TB contract):

* Everything is DataFrame-in → DataFrame-out, built from native
  ``pyspark.sql.functions`` so plans stay inside whole-stage codegen.
  Python reaches execution only in the clearly-marked multimodal decode
  stubs (Arrow-batched ``mapInPandas``), never in text/hash paths.
* No driver-side collects; candidate generation is always a key-partitioned
  join (LSH bucket, shingle inverted index), never an all-pairs crossJoin
  except in explicitly-named ``brute_force_*`` baselines.
* Skew hygiene: bucket joins cap candidate-list sizes; docs note where
  salting applies at 1000-executor scale.
"""

from .textops import (
    TOKENS_COL,
    tokenized_docs,
    canonical_url,
    line_filter,
    dedup_lines,
    token_fertility,
    vocab_coverage,
    doc_tokens,
    gopher_rules,
    shared_affix_counts,
    bpe_token_count,
    doc_fingerprint,
    doc_fingerprints,
    dup_ngram_fraction,
    remove_dup_ngram_spans,
    dup_substring_spans,
    dedup_substring_spans,
    dedup_substrings_char,
    contamination_spans,
    decontaminate_substrings,
    repetition_signals,
    language_id,
    normalize_text,
    punct_ratio,
    quality_score,
    scrub_text,
    chunk_text,
    vocab_topk,
    stopword_ratio,
    token_count,
    tokens,
)
from .dedup import (
    dedup_survivors,
    edit_distance_pairs,
    containment_pairs,
    cross_corpus_dup_pairs,
    cross_corpus_embedding_pairs,
    dup_clusters,
    embedding_dup_pairs,
    exact_dedup,
    minhash_dup_pairs,
    minhash_index,
    minhash_join_index,
    minhash_signature,
    hamming_pairs,
    ngram_jaccard_pairs,
    novelty_scores,
    pair_quality,
    shingle_hashes,
    shingle_hashes_tokens,
    source_overlap,
    semantic_dedup,
    semantic_dedup_pairs,
    simhash_dup_pairs,
    word_shingles,
)
from .graph import kcore, pagerank, triangle_count
from .quality import calibration_curve, expect, expect_observed, roc_auc, roc_auc_by_group, spearman_corr
from .entity import fuzzy_index, fuzzy_join
from .pca import pca_top_component
from .reshape import melt, pivot_wide
from .assoc import basket_pairs, cooccurrence_pmi
from .sketch import cms_build, cms_estimate, cms_join_size
from .similarity import (
    fit_scalar_quantizer,
    quantize_embeddings,
    quantization_fidelity,
    centroid_outliers,
    pool_embeddings,
    random_project,
    brute_force_topk,
    hard_negatives,
    cosine,
    dot,
    topic_assign,
    ivf_topk,
    kmeans_centroids,
    choose_centroid_frame,
    l2_norm,
    lsh_bucket_topk,
    topk_recall,
    unit,
)
from .joins import (
    asof_join,
    asof_join_stream,
    asof_join_stream_tws,
    lag_features,
    rolling_time_features,
    nearest_join,
    range_join,
    interval_join,
)
from .jsonops import json_extract_fields, json_parse_typed
from .retrieval import sparse_cosine_pairs, bm25_topk, tf_idf_vectors, distinctive_terms, ranking_metrics, rrf_fuse
from .sampling import (
    alpha_sampling,
    cap_per_group,
    cluster_balanced_sample,
    weighted_sample_per_group,
    hash_split,
    mixture_kl,
    mixture_sample,
    pack_sequences,
    stratified_sample,
    token_budget_sample,
)
from .cdc import latest_changes, merge_upsert, scd2_history, scd2_snapshot, schema_drift, snapshot_diff
from .bpe import bpe_encode_counts, bpe_learn
from .lm import bigram_frame, bigram_lm_scores, doremi_weights, dsir_model, dsir_score, dsir_weights
from .profile import (
    corr_matrix,
    pareto_front,
    group_entropy,
    group_trend,
    histogram_fixed,
    impute_nulls,
    winsorize,
    key_skew_profile,
    ntile_features,
    rolling_zscore,
    ks_drift,
    psi_drift,
    profile_table,
    quantile_stats,
    rollup_stats,
    cube_stats,
    distinct_counts,
    ewma,
    mad_outliers,
)
from .scale import (
    bloom_prune,
    salted_join,
    compact_table,
    partitioned_cumsum,
    plan_summary,
    read_bucketed,
    salted_agg,
    semi_prune,
    write_bucketed,
    write_partitioned,
    write_zordered,
    zorder_key,
)
from .sessions import (
    debounce,
    resample_ffill,
    debounce_stream,
    sessionize_stream_tws,
    cohort_retention,
    funnel,
    merge_intervals,
    session_stats,
    sessionize,
    sessionize_stream,
    time_weighted_avg,
    transition_matrix,
)
from .multimodal import (
    audio_chunks,
    media_ahash,
    media_dup_pairs,
    resize_images,
    MEDIA_SCHEMA,
    attach_fake_media,
    decode_media_meta,
    sample_frames,
)

__all__ = [
    "melt", "pivot_wide", "pca_top_component", "basket_pairs", "cooccurrence_pmi", "distinct_counts", "line_filter", "dedup_lines",
    "ewma", "edit_distance_pairs", "mad_outliers", "expect", "expect_observed", "roc_auc", "roc_auc_by_group",
    "fit_scalar_quantizer", "quantize_embeddings", "quantization_fidelity",
    "kcore", "pagerank", "triangle_count", "ranking_metrics", "pool_embeddings",
    "fuzzy_join", "fuzzy_index", "pareto_front", "calibration_curve",
    "salted_join", "winsorize", "impute_nulls", "group_trend",
    "cms_build", "cms_estimate", "cms_join_size", "corr_matrix", "group_entropy",
    "merge_intervals", "rolling_zscore", "scd2_history",
    "weighted_sample_per_group", "token_budget_sample",
    "distinctive_terms", "centroid_outliers",
    "ntile_features", "time_weighted_avg", "key_skew_profile",
    "transition_matrix",
    "tokens", "token_count", "bpe_token_count", "normalize_text",
    "TOKENS_COL", "tokenized_docs", "doc_tokens",
    "stopword_ratio", "punct_ratio", "quality_score", "language_id", "vocab_topk",
    "gopher_rules", "shared_affix_counts",
    "scrub_text", "chunk_text", "dup_clusters", "canonical_url",
    "doc_fingerprint",
    "doc_fingerprints",
    "repetition_signals",
    "exact_dedup", "word_shingles", "minhash_signature", "minhash_dup_pairs",
    "minhash_index", "minhash_join_index", "shingle_hashes", "shingle_hashes_tokens",
    "simhash_dup_pairs", "ngram_jaccard_pairs", "cross_corpus_dup_pairs", "novelty_scores", "source_overlap",
    "containment_pairs", "cross_corpus_embedding_pairs",
    "embedding_dup_pairs",
    "dot", "l2_norm", "cosine", "unit", "brute_force_topk", "hard_negatives", "lsh_bucket_topk", "topk_recall", "pair_quality",
    "ivf_topk", "random_project", "kmeans_centroids", "topic_assign",
    "choose_centroid_frame",
    "asof_join", "asof_join_stream", "asof_join_stream_tws", "nearest_join", "lag_features", "rolling_time_features", "range_join", "interval_join",
    "salted_agg", "write_bucketed", "read_bucketed", "bloom_prune", "semi_prune",
    "write_partitioned", "write_zordered", "zorder_key", "profile_table", "json_extract_fields", "json_parse_typed",
    "compact_table", "plan_summary", "partitioned_cumsum", "ks_drift", "psi_drift",
    "histogram_fixed",
    "hash_split", "stratified_sample", "pack_sequences", "quantile_stats",
    "bm25_topk", "tf_idf_vectors", "sparse_cosine_pairs", "rrf_fuse", "cap_per_group", "rollup_stats", "cube_stats",
    "dup_ngram_fraction", "remove_dup_ngram_spans",
    "dup_substring_spans", "dedup_substring_spans", "dedup_substrings_char",
    "contamination_spans", "decontaminate_substrings",
    "sessionize", "sessionize_stream", "sessionize_stream_tws", "funnel", "cohort_retention", "debounce", "debounce_stream", "resample_ffill",
    "mixture_sample", "latest_changes", "merge_upsert", "snapshot_diff",
    "semantic_dedup", "semantic_dedup_pairs", "schema_drift", "dedup_survivors", "scd2_snapshot", "session_stats",
    "bigram_frame", "bigram_lm_scores", "doremi_weights", "mixture_kl", "dsir_weights", "dsir_model", "dsir_score", "bpe_learn", "bpe_encode_counts",
    "MEDIA_SCHEMA", "attach_fake_media", "decode_media_meta", "sample_frames", "resize_images", "audio_chunks", "media_ahash", "media_dup_pairs", "hamming_pairs",
]
