"""Text-analysis scalar operators (language-ID, quality, tokens, fingerprint).

All pure ``pyspark.sql.functions`` expressions — JVM-side, codegen-friendly,
no UDFs — so they run at full scan speed over a 100 TB documents table.
Each has an exact SQL mirror used by the DuckDB oracles (the *heuristics* are
the contract; they are deliberately simple, deterministic formulas).
"""

from __future__ import annotations

from pyspark.sql import Column as SparkColumn
from pyspark.sql import functions as F
from .scale import durable_checkpoint

#: Tiny per-language stopword lists for the n-gram/stopword language heuristic.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "de": ("der", "die", "und", "das", "ist", "ein", "zu", "den", "mit", "nicht"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "du", "est", "pour"),
}

#: BPE-ish token pattern: letter runs, digit runs, or single non-space symbols.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"



def normalize_text(col: SparkColumn) -> SparkColumn:
    """Lowercase + collapse whitespace + trim (canonical form for dedup)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: SparkColumn) -> SparkColumn:
    """Whitespace tokens (array<string>); empty/blank text → empty array.

    One regex pass: split on ``\\s+`` and drop the boundary empties the
    split emits for leading/trailing whitespace.  Equivalent to
    strip-then-split (``\\s+`` can only produce empty elements at the
    boundaries) but without the full-document ``regexp_replace`` rewrite a
    regex strip costs — and unlike ``trim()`` (ASCII space only) it
    handles tab/newline-led text without phantom position-0 tokens.
    Probed bit-identical to the regex-strip form on the whole sf0.1
    corpus, ~1.5× faster per pass."""
    return F.filter(F.split(col, r"\s+"), lambda x: x != F.lit(""))


#: Conventional name for the precomputed token-array column.
TOKENS_COL = "__tokens"


def tokenized_docs(
    docs, *, text_col: str = "text", tokens_col: str = TOKENS_COL
):
    """``docs`` plus a ``tokens_col`` array<string> column.

    The canonical ``tokens(lower(text))`` — byte-identical to the
    ``tokens(normalize_text(text))`` form retrieval/lm use (both split on
    ``\\s+`` after lowercasing; pinned by
    ``tests/test_ops.py::test_token_canons_agree``), so one column can feed
    every op that takes ``tokens_col=``.
    """
    return docs.withColumn(tokens_col, tokens(F.lower(F.col(text_col))))


def doc_tokens(df, text_col: str, tokens_col: str | None) -> SparkColumn:
    """Token-array expression for a document frame.

    Returns the precomputed ``tokens_col`` when given (validated against the
    frame's columns), else the canonical ``tokens(lower(text))``.  Every op
    with a ``tokens_col=`` parameter resolves through here, so one
    tokenization (:func:`tokenized_docs`) can feed several text ops in one
    plan instead of each re-running the regex split over the corpus.
    """
    if tokens_col is not None:
        if tokens_col not in df.columns:
            raise ValueError(
                f"tokens_col {tokens_col!r} not found in frame columns {df.columns}"
            )
        return F.col(tokens_col)
    return tokens(F.lower(F.col(text_col)))


def token_count(col: SparkColumn) -> SparkColumn:
    """Whitespace token count (bigint)."""
    return F.size(tokens(col)).cast("bigint")


def bpe_token_count(col: SparkColumn) -> SparkColumn:
    """Sub-word-ish token count via the BPE-ish regex (bigint)."""
    return F.regexp_count(col, F.lit(BPE_PATTERN)).cast("bigint")


def stopword_ratio(col: SparkColumn, lang: str = "en") -> SparkColumn:
    """Fraction of whitespace tokens that are stopwords of ``lang``."""
    toks = tokens(F.lower(col))
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def punct_ratio(col: SparkColumn) -> SparkColumn:
    """Fraction of characters that are neither word characters nor spaces."""
    n = F.length(col)
    punct = F.regexp_count(col, F.lit(r"[^A-Za-z0-9_\s]")).cast("double")
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def quality_score(col: SparkColumn) -> SparkColumn:
    """Heuristic document quality in [0, 1].

    Deterministic linear blend (the exact formula is the contract, mirrored
    in the oracle SQL):

    * length credit  — ``least(len, 400)/400 * 0.4``
    * stopword credit — ``least(stopword_ratio*5, 1) * 0.3``
    * punctuation penalty — ``(1 - least(punct_ratio*4, 1)) * 0.3``
    """
    length_credit = F.least(F.length(col).cast("double"), F.lit(400.0)) / 400.0 * 0.4
    sw_credit = F.least(stopword_ratio(col) * 5.0, F.lit(1.0)) * 0.3
    punct_credit = (F.lit(1.0) - F.least(punct_ratio(col) * 4.0, F.lit(1.0))) * 0.3
    return length_credit + sw_credit + punct_credit


def language_id(col: SparkColumn) -> SparkColumn:
    """Stopword/character-class language heuristic.

    CJK characters dominate → ``zh``; otherwise the stopword list with the
    highest hit ratio wins (ties broken in en > es > de > fr order); no hits
    at all → ``und``.
    """
    n = F.length(col)
    cjk = F.regexp_count(col, F.lit(r"[一-鿿]")).cast("double")
    scores = {lang: stopword_ratio(col, lang) for lang in STOPWORDS}
    best = F.greatest(*scores.values())
    out = F.when((n > 0) & (cjk / n > 0.2), F.lit("zh"))
    out = out.when(best <= 0.0, F.lit("und"))
    for lang in ("en", "es", "de", "fr"):  # deterministic tie-break order
        out = out.when(scores[lang] == best, F.lit(lang))
    return out.otherwise(F.lit("und"))


def doc_fingerprint(col: SparkColumn, n: int = 3, k: int = 8) -> SparkColumn:
    """Winnowing-style document fingerprint: the ``k`` smallest hashes of the
    document's word ``n``-gram shingles (array<bigint>, sorted ascending).

    Rolling-hash flavored: each shingle is hashed with ``xxhash64`` and the
    minimum-k set is order-invariant and stable under small edits — two
    documents sharing most shingles share most fingerprint slots.  Hash
    values are engine-specific (like the ``hash`` node), so oracles compare
    cardinalities, not values.
    """
    from .dedup import word_shingles

    sh = word_shingles(col, n)
    hashes = F.transform(sh, lambda s: F.xxhash64(s))
    return F.slice(F.array_sort(hashes), 1, k)


def repetition_signals(df, id_col: str, text_col: str, *, tokens_col: str | None = None):
    """Gopher-style repetition/quality signals per document.

    Returns ``(id_col, n_words, mean_word_len, ttr, top_word_frac,
    top_bigram_frac)``:

    * ``ttr`` — type-token ratio (distinct words / words); low = repetitive.
    * ``top_word_frac`` — occurrences of the most frequent word / words.
    * ``top_bigram_frac`` — occurrences of the most frequent word bigram /
      bigrams (0.0 for one-word documents).

    These are the filters a training-data pipeline runs at full corpus
    scale, so the plan is one keyed shuffle: tokens explode + a ``lead()``
    window partitioned by document id, and every later aggregation
    (``groupBy(id, word)``, ``groupBy(id)``, the final join) reuses that
    hash partitioning — no further exchanges.  Documents with no tokens are
    omitted (blank text carries no signal).
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("_id"), doc_tokens(df, text_col, tokens_col).alias("_w")
    ).where(F.size("_w") > 0)
    win = Window.partitionBy("_id").orderBy("_p")
    ex = base.select("_id", F.posexplode("_w").alias("_p", "_t")).select(
        "_id", "_t", F.lead("_t", 1).over(win).alias("_t2")
    )
    # One (id, word, next-word) count frame feeds BOTH signal families.  The
    # last token of each document keeps a null _t2 so word counts stay exact;
    # bigram aggregates filter it out.  Every aggregation below groups on a
    # superset-partitioning of the window's hashpartitioning(_id), so the
    # whole tree runs on the window's single exchange (ReusedExchange across
    # the two branches).
    gc = ex.groupBy("_id", "_t", "_t2").agg(F.count(F.lit(1)).alias("_c"))
    wc = gc.groupBy("_id", "_t").agg(F.sum("_c").alias("_c"))
    words = wc.groupBy("_id").agg(
        F.sum("_c").alias("n_words"),
        (F.sum(F.col("_c") * F.length("_t")) / F.sum("_c")).alias("mean_word_len"),
        (F.count(F.lit(1)) / F.sum("_c")).alias("ttr"),
        (F.max("_c") / F.sum("_c")).alias("top_word_frac"),
    )
    grams = (
        gc.where(F.col("_t2").isNotNull())
        .groupBy("_id")
        .agg((F.max("_c") / F.sum("_c")).alias("top_bigram_frac"))
    )
    return (
        words.join(grams, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("n_words").cast("bigint").alias("n_words"),
            "mean_word_len",
            "ttr",
            "top_word_frac",
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        )
    )


def _md5_60(col: SparkColumn) -> SparkColumn:
    """Portable 60-bit hash: first 15 hex chars of md5, as a long.

    Engine-independent (any engine with md5 + base conversion reproduces it
    — DuckDB: ``('0x' || substr(md5(x), 1, 15))::UBIGINT``), which is what
    lets approximate operators carry full-value oracles.  60 bits < 2⁶³
    keeps ``conv`` exact in a signed long.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def doc_fingerprints(
    df, id_col: str, text_col: str, *, n: int = 3, k: int = 8,
    shingle_hash: str = "xxhash64",
):
    """Table-level :func:`doc_fingerprint`: ``(id_col, fingerprint)``.

    Same min-k-shingle-hash contract, but built on the codegen'd window-lead
    shingle instances (one keyed shuffle, map-side combinable) instead of
    per-row interpreted array HOFs — the corpus-scale path.

    ``shingle_hash="xxhash64"`` (default) is the fastest path but
    engine-specific; ``"md5_60"`` hashes the joined shingle string with
    :func:`_md5_60`, so fingerprint VALUES are reproducible in any engine
    (the x08 oracle recomputes them exactly in DuckDB).
    """
    if shingle_hash == "xxhash64":
        from .dedup import _shingle_instance_frames

        long_inst, short_rows = _shingle_instance_frames(df, id_col, text_col, n)
    elif shingle_hash == "md5_60":
        from pyspark.sql import Window

        base = df.select(
            F.col(id_col).alias("_id"),
            tokens(F.lower(F.col(text_col))).alias("_w"),
        ).select("_id", "_w", F.size("_w").alias("_sz"))
        win = Window.partitionBy("_id").orderBy("_p")
        parts = [
            F.lead("_t", j).over(win) if j else F.col("_t") for j in range(n)
        ]
        long_inst = (
            base.where(F.col("_sz") >= n)
            .select("_id", F.col("_sz"), F.posexplode("_w").alias("_p", "_t"))
            .select(
                "_id", "_p", "_sz", _md5_60(F.concat_ws(" ", *parts)).alias("_g")
            )
            .where(F.col("_p") <= F.col("_sz") - n)
            .select("_id", "_g")
        )
        # zero-token documents have no shingle and no fingerprint
        short_rows = base.where(
            (F.col("_sz") < n) & (F.col("_sz") >= 1)
        ).select("_id", _md5_60(F.concat_ws(" ", "_w")).alias("_g"))
    else:
        raise ValueError(f"unknown shingle_hash {shingle_hash!r}")
    long_fp = (
        long_inst.groupBy("_id")
        .agg(F.collect_set("_g").alias("_gs"))
        .select("_id", F.slice(F.array_sort("_gs"), 1, k).alias("fingerprint"))
    )
    short_fp = short_rows.select("_id", F.array("_g").alias("fingerprint"))
    return long_fp.unionByName(short_fp).withColumnRenamed("_id", id_col)


def dup_ngram_fraction(
    df,
    id_col: str,
    text_col: str,
    *,
    n: int = 13,
    tokens_col: str | None = None,
):
    """Per-document cross-document n-gram repetition (span-dedup signal).

    For each document: the fraction of its word ``n``-gram *instances* that
    also occur in at least one other document — the signal behind
    substring-level training-data dedup (long shared spans mean boilerplate
    or copies; a document with ``dup_frac ≈ 1`` is wholly duplicated
    content even if no single pair passes a whole-document Jaccard gate).
    Returns ``(id_col, n_grams, n_dup_grams, dup_frac)``; documents shorter
    than ``n`` words are measured on their whole text as a single gram.

    Unlike pairwise dedup this NEVER forms document pairs: gram document
    frequencies come from one (gram → distinct-doc count) aggregation and
    are joined back to the instance stream — two keyed shuffles total, cost
    linear in corpus token count, no quadratic blow-up on hot grams.  Grams
    travel as 8-byte xxhash64 keys (collision ≈ n²/2⁶⁴ — with ~10¹² distinct
    grams at 100 TB, switch the key to a 128-bit hash).
    """
    from .dedup import _shingle_instance_frames

    long_inst, short_rows = _shingle_instance_frames(
        df, id_col, text_col, n, tokens_col=tokens_col
    )
    inst = long_inst.unionByName(short_rows)
    # referenced twice below (the df-count aggregate + the join back):
    # truncate lineage or the wide-n window build re-executes per
    # reference (the repo-wide multi-reference discipline; lazy).
    # Round-14 A/B at sf0.1: x32 2.34 -> 1.87 s median.
    inst = durable_checkpoint(inst, eager=False)
    # gram → number of distinct documents containing it (two-phase, no
    # count-distinct Expand over the raw instance stream)
    gdf = (
        inst.dropDuplicates(["_id", "_g"])
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_docs"))
    )
    flagged = inst.join(gdf, "_g").select(
        "_id", (F.col("_docs") >= 2).cast("bigint").alias("_dup")
    )
    return flagged.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("_dup").alias("n_dup_grams"),
    ).select(
        F.col("_id").alias(id_col),
        "n_grams",
        "n_dup_grams",
        (F.col("n_dup_grams").cast("double") / F.col("n_grams")).alias("dup_frac"),
    )


def remove_dup_ngram_spans(
    df,
    id_col: str,
    text_col: str,
    *,
    n: int = 13,
    min_df: int = 2,
    tokens_col: str | None = None,
):
    """Cut cross-document duplicated spans out of each document.

    The transform behind substring-level training-data dedup: any token
    covered by a word ``n``-gram that occurs in ≥ ``min_df`` documents is
    dropped, and the survivors are rejoined in order.  Returns ``(id_col,
    clean_text, n_tokens_kept, n_tokens_removed)`` — one row per document
    with ≥1 token (normalized: lowercased, whitespace-collapsed).
    Documents shorter than ``n`` words contain no ``n``-gram and pass
    through whole.

    Same never-pairwise shape as :func:`dup_ngram_fraction`: gram document
    frequencies come from one keyed aggregation over hashed gram instances;
    coverage is a positions explode (≤ ``n`` rows per flagged instance);
    the rebuild is a per-document sort of surviving tokens.  All shuffles
    are keyed by 8-byte hashes or the document id — linear in corpus
    tokens at any scale.
    """
    from .dedup import _shingle_instance_frames

    # positioned gram instances — the same frame the n-gram
    # dedup family builds, positions kept for the coverage explode
    inst, _ = _shingle_instance_frames(
        df, id_col, text_col, n, tokens_col=tokens_col, keep_pos=True,
    )
    # referenced twice below (flagged-gram aggregate + coverage join):
    # same lineage truncation as dup_substring_spans.  Round-14 A/B at
    # sf0.1: x37 3.08 -> 2.35 s median.
    inst = durable_checkpoint(inst, eager=False)
    flagged = (
        inst.dropDuplicates(["_id", "_g"])
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_docs"))
        .where(F.col("_docs") >= min_df)
        .select("_g")
    )
    covered = (
        inst.join(flagged, "_g")
        .select("_id", F.explode(F.sequence(F.col("_p"), F.col("_p") + (n - 1))).alias("_p"))
        .dropDuplicates(["_id", "_p"])
    )
    return _rebuild_without_positions(df, covered, id_col, text_col, tokens_col)


def dup_substring_spans(
    df,
    id_col: str,
    text_col: str,
    *,
    min_len: int = 50,
    min_count: int = 2,
    tokens_col: str | None = None,
    offsets: str = "token",
):
    """Maximal verbatim-duplicated token runs of length >= ``min_len``.

    The exact-substring dedup signal (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL'22 — the ExactSubstr
    treatment): a token is *duplicated* iff it lies inside some token run
    of length >= ``min_len`` that occurs >= ``min_count`` times in the
    corpus, counting OCCURRENCES (a string repeated twice inside one
    document is a duplicate; contrast :func:`dup_ngram_fraction` /
    :func:`remove_dup_ngram_spans`, which count distinct-document
    frequency).  Returns one row per maximal duplicated run: ``(id_col,
    span_start, span_end, span_tokens)`` with 0-based inclusive token
    positions over the normalized (lowercased, whitespace-split) token
    stream.

    Exactness at arbitrary ``min_len`` without suffix arrays: a token
    sits inside a duplicated run of length >= L  ⟺  it is covered by some
    ``min_len``-gram whose corpus occurrence count >= ``min_count``
    (⇐ the gram is itself such a run; ⇒ any occurrence of the long run
    carries every L-window inside it, so each covering window recurs
    wherever the run does).  So the reference semantics reduce to
    L-gram instance counting plus interval merging — no approximation at
    chunk boundaries, unlike span-stitching with a fixed smaller n.

    100 TB shape — sorted shingle-run chaining, never pairwise, never a
    suffix sort:

    1. positioned L-gram instances (the shared codegen explode + ``lead``
       frames, hash-partitioned by document);
    2. one keyed aggregation to gram occurrence counts; flagged grams
       join back to instances (two hash shuffles, linear in corpus
       tokens);
    3. flagged start positions chain into maximal runs with one
       per-document ``lag`` window (gaps-and-islands): starts whose gap
       exceeds L break a run; ``[p, p+L-1]`` intervals at chained starts
       union into one span.  No per-instance coverage explode — span
       count, not span length, bounds the output.

    Documents shorter than ``min_len`` tokens cannot contain a qualifying
    run and never appear.

    ``offsets="char"`` instead returns ``(id_col, char_start, char_end,
    span_tokens)`` — 0-based char positions into the ORIGINAL document
    text (``char_end`` exclusive), so removal maps back to the raw bytes
    the way Lee et al. operate (see :func:`_spans_to_char`).  Requires
    ``tokens_col`` (when given) to be the canonical whitespace
    tokenization of ``text_col`` (what :func:`tokenized_docs` adds),
    since char offsets are derived from the original text's own
    whitespace structure at the same token positions.
    """
    from .dedup import _shingle_instance_frames

    if offsets not in ("token", "char"):
        raise ValueError(f"offsets must be 'token' or 'char', got {offsets!r}")
    L = int(min_len)
    inst, _short = _shingle_instance_frames(
        df, id_col, text_col, L, tokens_col=tokens_col, keep_pos=True,
    )
    # referenced twice (gram counts + the starts join): truncate lineage
    # at the boundary or the tokenize+explode+window stage re-executes per
    # reference (the repo-wide multi-reference discipline; lazy)
    inst = inst.transform(durable_checkpoint, eager=False)
    flagged_grams = (
        inst.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .where(F.col("_cnt") >= int(min_count))
        .select("_g")
    )
    starts = inst.join(flagged_grams, "_g").select("_id", "_p")
    spans = _chain_run_spans(starts, L, id_col)
    if offsets == "char":
        return _spans_to_char(df, spans, id_col, text_col)
    return spans


def _token_char_offsets(df, id_col: str, text_col: str):
    """Per-token char offsets into the ORIGINAL (un-normalized) text:
    ``(_id, _p, _cs, _tl)`` — 0-based char start and char length of the
    ``_p``-th whitespace token.

    Token positions come from the same whitespace split the normalized
    stream uses (lowercasing never changes whitespace), so position ``_p``
    here is the SAME token the span ops index.  Offset arithmetic uses two
    splits whose empty-element behavior Spark (Java split, limit -1) and
    DuckDB (RE2 regexp_split_to_array) agree on byte-for-byte: on trimmed
    text, ``\\s+`` yields the n tokens with no empties and ``\\S+`` yields
    ``["", ws_1, …, ws_{n-1}, ""]`` — token i's char start is the leading
    whitespace of the original text plus the lengths of every earlier
    token and inter-token gap (one cumulative-sum window per document,
    all-integer, no float surface)."""
    from pyspark.sql import Window

    # regex strips, NOT trim()/ltrim(): those strip only ASCII spaces, so a
    # tab/newline-leading document would keep its whitespace, the \s+ split
    # would emit a phantom empty token at position 0, and every char offset
    # would shift (found by review; pinned in the messy() offsets test)
    raw = F.col(text_col)
    trimmed = F.regexp_replace(raw, r"^\s+|\s+$", "")
    base = df.select(
        F.col(id_col).alias("_id"),
        (F.length(raw) - F.length(F.regexp_replace(raw, r"^\s+", ""))).alias("_lead"),
        F.split(trimmed, r"\s+").alias("_k"),
        F.split(trimmed, r"\S+").alias("_ws"),
    ).where(F.length(trimmed) > 0)
    tok = base.select(
        "_id", "_lead", "_ws", F.posexplode("_k").alias("_p", "_t")
    )
    # segment _p = (whitespace gap BEFORE token _p) + token _p itself;
    # _ws[0] is always "" so position 0 contributes no gap
    seg = F.length(F.element_at("_ws", F.col("_p") + 1)) + F.length("_t")
    w = (
        Window.partitionBy("_id")
        .orderBy("_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tok.select(
        "_id",
        "_p",
        (F.col("_lead") + F.sum(seg).over(w) - F.length("_t")).alias("_cs"),
        F.length("_t").alias("_tl"),
    )


def _spans_to_char(df, spans, id_col: str, text_col: str):
    """Map token spans ``(id, span_start, span_end, span_tokens)`` to char
    offsets in the ORIGINAL text: ``(id, char_start, char_end,
    span_tokens)`` with ``char_start`` inclusive / ``char_end`` exclusive,
    so ``substr(text, char_start+1, char_end-char_start)`` is exactly the
    duplicated run as it appears in the raw document (Lee et al. operate
    on raw bytes; the token spans index the normalized stream).  Two
    keyed equi-joins against the per-token offset frame — linear, no
    pairwise work."""
    off = _token_char_offsets(df, id_col, text_col)
    s = off.select(
        F.col("_id").alias(id_col),
        F.col("_p").alias("span_start"),
        F.col("_cs").alias("char_start"),
    )
    e = off.select(
        F.col("_id").alias(id_col),
        F.col("_p").alias("span_end"),
        (F.col("_cs") + F.col("_tl")).alias("char_end"),
    )
    return (
        spans.join(s, [id_col, "span_start"])
        .join(e, [id_col, "span_end"])
        .select(id_col, "char_start", "char_end", "span_tokens")
    )


def _chain_run_spans(starts, L: int, id_col: str):
    """Maximal merged spans from flagged L-gram start positions.

    Gaps-and-islands over one per-document ``lag`` window: intervals
    ``[p, p+L-1]`` all share length L, so sorted starts merge (overlap or
    touch) exactly when the start gap is <= L.  Input ``(_id, _p)``;
    output ``(id_col, span_start, span_end, span_tokens)``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("_id").orderBy("_p")
    new_run = (
        F.lag("_p").over(w).isNull() | ((F.col("_p") - F.lag("_p").over(w)) > L)
    ).cast("int")
    run = F.sum(new_run).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        starts.withColumn("_run", run)
        .groupBy("_id", "_run")
        .agg(
            F.min("_p").alias("span_start"),
            (F.max("_p") + F.lit(L - 1)).alias("span_end"),
        )
        .select(
            F.col("_id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def dedup_substring_spans(
    df,
    id_col: str,
    text_col: str,
    *,
    min_len: int = 50,
    min_count: int = 2,
    tokens_col: str | None = None,
):
    """Cut every verbatim-duplicated run of >= ``min_len`` tokens.

    The removal transform over :func:`dup_substring_spans` — drop each
    token inside a maximal duplicated run and rejoin the survivors in
    order.  Returns ``(id_col, clean_text, n_tokens_kept,
    n_tokens_removed)``, one row per document with >= 1 token
    (normalized: lowercased, whitespace-collapsed); documents shorter
    than ``min_len`` tokens pass through whole.

    Same linear shape as :func:`remove_dup_ngram_spans` with one
    improvement: coverage positions explode from MERGED spans (exactly
    ``n_tokens_removed`` rows, already disjoint — no dedup needed)
    instead of per-flagged-instance ``n``-row fans that overlap up to
    n-fold on long duplicates.
    """
    spans = dup_substring_spans(
        df, id_col, text_col, min_len=min_len, min_count=min_count,
        tokens_col=tokens_col,
    )
    return _rebuild_without_spans(df, spans, id_col, text_col, tokens_col)


def _rebuild_without_spans(df, spans, id_col: str, text_col: str, tokens_col):
    """Cut ``spans`` (disjoint, token positions) out of each document and
    rejoin survivors in order.  The coverage explode emits exactly
    ``n_tokens_removed`` rows (merged spans are disjoint by construction
    — no dedup step)."""
    covered = spans.select(
        F.col(id_col).alias("_id"),
        F.explode(F.sequence(F.col("span_start"), F.col("span_end"))).alias("_p"),
    )
    return _rebuild_without_positions(df, covered, id_col, text_col, tokens_col)


def _rebuild_without_positions(df, covered, id_col: str, text_col: str, tokens_col):
    """THE rebuild shared by every span-removal transform: drop each
    document token whose 0-based position appears in ``covered``
    (``(_id, _p)``, one row per cut position — callers guarantee
    distinctness) and rejoin the survivors in order.  Returns ``(id_col,
    clean_text, n_tokens_kept, n_tokens_removed)``, one row per document
    with >= 1 token."""
    base = df.select(
        F.col(id_col).alias("_id"), doc_tokens(df, text_col, tokens_col).alias("_w")
    ).where(F.size("_w") > 0)
    toks = base.select("_id", F.posexplode("_w").alias("_p", "_t"))

    marked = toks.join(covered.withColumn("_cov", F.lit(True)), ["_id", "_p"], "left")
    rebuilt = marked.groupBy("_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_cov").isNull(), F.struct("_p", "_t")).otherwise(None)
                    )
                ),
                lambda st: st["_t"],
            ),
        ).alias("clean_text"),
        F.sum(F.col("_cov").isNull().cast("bigint")).alias("n_tokens_kept"),
        F.sum(F.col("_cov").isNotNull().cast("bigint")).alias("n_tokens_removed"),
    )
    return rebuilt.withColumnRenamed("_id", id_col)


def dedup_substrings_char(
    df,
    id_col: str,
    text_col: str,
    *,
    min_len: int = 50,
    min_count: int = 2,
    tokens_col: str | None = None,
):
    """Cut every verbatim-duplicated run >= ``min_len`` tokens out of the
    ORIGINAL text — raw-byte removal, the actual Lee et al. deliverable.

    Where :func:`dedup_substring_spans` rebuilds the NORMALIZED
    (lowercased, whitespace-collapsed) token stream, this removes the
    spans' char ranges from the document as it stands: casing and
    whitespace outside the cut ranges are untouched.  Returns ``(id_col,
    clean_text, n_chars_removed)``, one row per document with >= 1 token;
    documents with no duplicated run pass through whole.

    Shape: the char spans (:func:`dup_substring_spans` with
    ``offsets="char"``) are disjoint with gaps by construction (merged
    token runs are separated by >= 1 kept token), so the kept segments
    fall out of ONE per-document ``lag`` window over the span rows plus a
    tail segment — each segment is a row-local ``substring``, and the
    rebuild is an ordered ``concat_ws`` per document.  Linear, no
    pairwise work, no folds over characters.
    """
    spans = dup_substring_spans(
        df, id_col, text_col, min_len=min_len, min_count=min_count,
        tokens_col=tokens_col, offsets="char",
    )
    return _rebuild_without_char_spans(df, spans, id_col, text_col, tokens_col)


def _rebuild_without_char_spans(
    df, spans, id_col: str, text_col: str, tokens_col: str | None = None
):
    """Remove disjoint char ranges ``(id, char_start, char_end)`` from the
    original ``text_col``; shared by the dedup and decontamination char
    transforms.  ``tokens_col`` (when the caller precomputed the
    token arrays) keeps the non-empty filter off the raw-regex retokenize
    path — same values, one less corpus scan."""
    from pyspark.sql import Window

    w = Window.partitionBy("_id").orderBy("char_start")
    seg = spans.select(
        F.col(id_col).alias("_id"), "char_start", "char_end"
    ).select(
        "_id",
        F.coalesce(F.lag("char_end").over(w), F.lit(0)).alias("_ss"),
        F.col("char_start").alias("_se"),
        F.col("char_end").alias("_tail_from"),
        (F.col("char_end") - F.col("char_start")).alias("_cut"),
        F.row_number().over(Window.partitionBy("_id").orderBy(F.desc("char_start"))).alias("_last"),
    )
    base = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")
    ).where(F.size(doc_tokens(df, text_col, tokens_col)) > 0)
    joined = seg.join(base, "_id")
    # one row per kept segment: the gap before each span, plus (from the
    # row holding the LAST span only) the tail after it
    head_segs = joined.select(
        "_id",
        F.col("_ss").alias("_from"),
        F.substring(
            F.col("_txt"), F.col("_ss") + 1, F.col("_se") - F.col("_ss")
        ).alias("_seg"),
        F.col("_cut"),
    )
    tail_segs = joined.where(F.col("_last") == 1).select(
        "_id",
        F.col("_tail_from").alias("_from"),
        F.substring(
            F.col("_txt"),
            F.col("_tail_from") + 1,
            F.length("_txt") - F.col("_tail_from"),
        ).alias("_seg"),
        F.lit(0).cast("bigint").alias("_cut"),
    )
    rebuilt = (
        head_segs.unionByName(tail_segs)
        .groupBy("_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_from", "_seg"))),
                    lambda st: st["_seg"],
                ),
            ).alias("clean_text"),
            F.sum("_cut").alias("n_chars_removed"),
        )
    )
    untouched = base.join(spans.select(F.col(id_col).alias("_id")), "_id", "left_anti").select(
        "_id",
        F.col("_txt").alias("clean_text"),
        F.lit(0).cast("bigint").alias("n_chars_removed"),
    )
    return (
        rebuilt.unionByName(untouched)
        .select(F.col("_id").alias(id_col), "clean_text", "n_chars_removed")
    )


def contamination_spans(
    df,
    probe,
    id_col: str,
    text_col: str,
    *,
    probe_id_col: str | None = None,
    probe_text_col: str | None = None,
    min_len: int = 20,
    tokens_col: str | None = None,
    probe_tokens_col: str | None = None,
    offsets: str = "token",
):
    """Maximal runs >= ``min_len`` tokens shared VERBATIM with ``probe``.

    The substring-level decontamination signal (the ExactSubstr treatment
    applied cross-corpus — Lee et al. ACL'22 §4.2 deduplicate train
    against validation this way): a token of a ``df`` document is
    *contaminated* iff it lies inside a token run of length >=
    ``min_len`` that appears verbatim ANYWHERE in the ``probe`` corpus
    (the test/benchmark set).  Returns ``(id_col, span_start, span_end,
    span_tokens)`` — one row per maximal contaminated run, 0-based
    inclusive positions.  Compare :func:`~dftly_spark.ops.containment_pairs`,
    which scores whole-document fixed-n containment per (doc, probe)
    pair; this op pinpoints the exact spans at arbitrary L and never
    forms document pairs at all.

    Same L-gram-coverage equivalence and linear plan shape as
    :func:`dup_substring_spans`: corpus L-gram instances semi-join the
    probe's DISTINCT L-gram set (small — probe corpora are test sets),
    and flagged starts chain into maximal runs with one per-document
    window.  Probe documents shorter than ``min_len`` tokens contribute
    no L-gram and cannot contaminate (a < L-token probe string cannot be
    a >= L-token run); ``df`` identity with ``probe`` is NOT excluded —
    decontamination runs between disjoint corpora by construction.

    ``offsets="char"`` maps the spans to 0-based char positions in the
    ORIGINAL ``df`` text (``(id_col, char_start, char_end, span_tokens)``,
    end exclusive) — see :func:`dup_substring_spans`.
    """
    from .dedup import _shingle_instance_frames

    if offsets not in ("token", "char"):
        raise ValueError(f"offsets must be 'token' or 'char', got {offsets!r}")
    L = int(min_len)
    inst, _short = _shingle_instance_frames(
        df, id_col, text_col, L, tokens_col=tokens_col, keep_pos=True,
    )
    p_id = probe_id_col if probe_id_col is not None else id_col
    p_text = probe_text_col if probe_text_col is not None else text_col
    p_inst, _p_short = _shingle_instance_frames(
        probe, p_id, p_text, L,
        tokens_col=probe_tokens_col,
    )
    probe_grams = p_inst.select("_g").distinct()
    starts = inst.join(probe_grams, "_g", "left_semi").select("_id", "_p")
    spans = _chain_run_spans(starts, L, id_col)
    if offsets == "char":
        return _spans_to_char(df, spans, id_col, text_col)
    return spans


def decontaminate_substrings(
    df,
    probe,
    id_col: str,
    text_col: str,
    *,
    probe_id_col: str | None = None,
    probe_text_col: str | None = None,
    min_len: int = 20,
    tokens_col: str | None = None,
    probe_tokens_col: str | None = None,
):
    """Cut every probe-shared run >= ``min_len`` tokens out of ``df``.

    The removal transform over :func:`contamination_spans` — returns
    ``(id_col, clean_text, n_tokens_kept, n_tokens_removed)``, one row
    per document with >= 1 token; documents sharing nothing with the
    probe pass through whole (``n_tokens_removed = 0``).
    """
    spans = contamination_spans(
        df, probe, id_col, text_col,
        probe_id_col=probe_id_col, probe_text_col=probe_text_col,
        min_len=min_len,
        tokens_col=tokens_col, probe_tokens_col=probe_tokens_col,
    )
    return _rebuild_without_spans(df, spans, id_col, text_col, tokens_col)


def vocab_topk(
    df,
    text_col: str,
    *,
    id_col: str = "doc_id",
    k: int = 50,
    n: int = 1,
    tokens_col: str | None = None,
):
    """Corpus-level top-``k`` token ``n``-grams by frequency (vocab building).

    Normalizes (lowercase, collapsed whitespace), tokenizes on whitespace,
    forms word n-grams, and counts globally.  Returns ``(gram, n_docs,
    count)`` ordered by (count desc, gram asc) — the deterministic tiebreak
    makes the top-k reproducible.

    Scale shape, measured against the obvious alternatives (sf0.1):

    * n-grams come from ``posexplode`` + ``lead`` windows over the token
      stream, not a ``transform``/``slice`` fold — HOFs are interpreted
      and the per-position ``slice`` allocates (8.1s → 1.9s for bigrams);
    * doc frequency is a two-phase aggregation ((gram, doc) partial counts,
      then gram totals) instead of ``count(distinct doc)`` — the exact-NDV
      Expand doubles the exploded stream (5.8s → 0.8s for unigrams);
    * the final top-k is TakeOrderedAndProject over per-partition top-ks —
      no full sort, no single-reducer bottleneck.
    """
    from pyspark.sql import Window

    toks = doc_tokens(df, text_col, tokens_col)
    if n == 1:
        ex = df.select(F.col(id_col).alias("__doc"), F.explode(toks).alias("gram"))
    else:
        ex = df.select(
            F.col(id_col).alias("__doc"), F.posexplode(toks).alias("__p", "__t")
        )
        w = Window.partitionBy("__doc").orderBy("__p")
        leads = [F.lead("__t", i).over(w) for i in range(1, n)]
        ex = (
            ex.select(
                "__doc",
                F.concat_ws(" ", F.col("__t"), *leads).alias("gram"),
                leads[-1].alias("__last"),
            )
            .where(F.col("__last").isNotNull())
            .drop("__last")
        )
    per_doc = ex.groupBy("gram", "__doc").agg(F.count(F.lit(1)).alias("__c"))
    return (
        per_doc.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__c").alias("count"),
        )
        .orderBy(F.col("count").desc(), F.col("gram").asc())
        .limit(k)
    )


def chunk_text(
    df,
    id_col: str,
    text_col: str,
    *,
    chunk_tokens: int = 256,
    overlap: int = 32,
    min_tokens: int = 1,
):
    """Overlapping token-window chunking (retrieval/embedding prep).

    Splits each document's whitespace tokens into windows of
    ``chunk_tokens`` advancing by ``chunk_tokens - overlap``, rejoined with
    single spaces.  Returns ``(id_col, chunk_idx, n_tokens, chunk_text)``;
    trailing windows shorter than ``min_tokens`` are dropped (they are
    fully contained in the previous window).

    Stays JVM-side: the starts sequence is O(len/stride) per doc and the
    per-window ``slice`` touches each token ≤ ⌈chunk/stride⌉ times — unlike
    per-token HOF shapes this is cheap because windows, not tokens, drive
    the loop.  Deterministic, no shuffle (row-local explode).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(normalize_text(F.col(text_col)))
    n = F.size(toks)
    # window starts: 1, 1+stride, ... while start <= max(n - overlap, 1)
    starts = F.when(
        n >= 1,
        F.sequence(F.lit(1), F.greatest(n - overlap, F.lit(1)), F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    ex = df.select(
        F.col(id_col),
        toks.alias("__t"),
        F.posexplode(starts).alias("chunk_idx", "__s"),
    )
    piece = F.slice(F.col("__t"), F.col("__s"), chunk_tokens)
    return ex.select(
        id_col,
        "chunk_idx",
        F.size(piece).cast("bigint").alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    ).where(F.col("n_tokens") >= min_tokens)


def scrub_text(col: SparkColumn) -> SparkColumn:
    """Mask URLs, emails, and long digit runs with placeholder tokens.

    The standard pre-training scrub for obvious PII/noise carriers:
    ``https?://…`` → ``<URL>``, emails → ``<EMAIL>``, digit runs of 8+
    (phones, IDs, card fragments) → ``<NUM>``.  Patterns deliberately use
    the regex subset shared by Java and RE2 (no lookarounds/backrefs), so
    the oracle replays them verbatim; order matters (URLs first — they may
    contain @ and digits).
    """
    out = F.regexp_replace(col, r"https?://\S+", "<URL>")
    out = F.regexp_replace(
        out, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
    )
    return F.regexp_replace(out, r"[0-9]{8,}", "<NUM>")


def gopher_rules(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopword_hits: int = 2,
):
    """Gopher-style quality rules: per-document verdicts + failure reasons.

    The repetition-independent subset of the Rae et al. (Gopher, 2021)
    document filters, each a pure column expression over one scan — no
    shuffle, no UDF (the repetition rules live in
    :func:`repetition_signals`):

    * ``words``        — whitespace word count in ``[min_words, max_words]``
    * ``mean_word_len``— non-space chars / words in ``[3, 10]``
    * ``symbol_ratio`` — ``#``/``…``/``...`` occurrences per word ≤ 0.1
    * ``alpha_frac``   — fraction of words containing a letter ≥ 0.8
    * ``stopwords``    — ≥ 2 distinct common-word hits ("is this prose")

    Returns ``(id_col, n_words, keep, failed_rules)`` with ``failed_rules``
    a comma-joined sorted rule-name list (empty when ``keep``).  Thresholds
    are keyword parameters; the defaults are the published ones.
    """
    text = F.col(text_col)
    ws = tokens(text)
    n_words = F.size(ws).cast("bigint")
    nonspace = F.length(F.regexp_replace(text, r"\s+", "")).cast("double")
    mean_wl = F.when(n_words > 0, nonspace / n_words).otherwise(F.lit(0.0))
    symbols = (F.regexp_count(text, F.lit(r"#|…")) +
               F.regexp_count(text, F.lit(r"\.\.\."))).cast("double")
    symbol_ratio = F.when(n_words > 0, symbols / n_words).otherwise(F.lit(0.0))
    alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))).cast("double")
    alpha_frac = F.when(n_words > 0, alpha / n_words).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.transform(ws, F.lower),
            F.array(*[F.lit(w) for w in STOPWORDS["en"]]),
        )
    )

    checks = {
        "alpha_frac": alpha_frac >= min_alpha_frac,
        "mean_word_len": (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len),
        "stopwords": stop_hits >= min_stopword_hits,
        "symbol_ratio": symbol_ratio <= max_symbol_ratio,
        "words": (n_words >= min_words) & (n_words <= max_words),
    }
    failed = F.concat_ws(
        ",",
        F.filter(
            F.array(*[
                F.when(~ok, F.lit(name)).otherwise(F.lit(None))
                for name, ok in sorted(checks.items())
            ]),
            lambda x: x.isNotNull(),
        ),
    )
    keep = failed == ""
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        keep.alias("keep"),
        failed.alias("failed_rules"),
    )


def shared_affix_counts(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 10,
    tokens_col: str | None = None,
):
    """Boilerplate detection: how many documents share each doc's prefix/suffix.

    Template pages (navigation headers, license footers, scraper banners)
    share their first/last ``k`` tokens verbatim even when the middles
    differ, so near-dup passes keyed on whole-document similarity miss
    them.  Returns ``(id_col, prefix_docs, suffix_docs)`` — the number of
    corpus documents (self included) sharing this document's normalized
    first-``k`` / last-``k`` token run; threshold downstream to flag or
    strip template families.

    Two keyed aggregations on 8-byte affix hashes; each count joins back on
    the SAME key it was aggregated on, so both aggregation exchanges are
    reused (no extra shuffle).  Documents shorter than ``k`` tokens use
    their whole token run.
    """
    ws = doc_tokens(df, text_col, tokens_col)
    pre = F.xxhash64(F.concat_ws(" ", F.slice(ws, 1, k)))
    suf = F.xxhash64(
        F.concat_ws(" ", F.slice(ws, F.greatest(F.size(ws) - (k - 1), F.lit(1)), k))
    )
    base = df.select(F.col(id_col), pre.alias("_pre"), suf.alias("_suf"))
    pc = base.groupBy("_pre").agg(F.count(F.lit(1)).alias("prefix_docs"))
    sc = base.groupBy("_suf").agg(F.count(F.lit(1)).alias("suffix_docs"))
    return (
        base.join(pc, "_pre")
        .join(sc, "_suf")
        .select(id_col, "prefix_docs", "suffix_docs")
    )


# Shared with the engine's split node (nodes/strings.py) — see the module
# docstring of dftly_spark.javare for why re.escape is not used here.
from ..javare import java_literal_regex as _java_literal_regex  # noqa: E402


def line_filter(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    sep: str = "\n",
    min_words: int = 3,
    banned: tuple[str, ...] = (),
    require_terminal_punct: bool = False,
    min_lines_kept: int = 1,
):
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2).

    Documents are split on ``sep`` and each line kept iff it (a) has at
    least ``min_words`` whitespace words, (b) contains none of the
    ``banned`` substrings (case-insensitive — the C4 "javascript"/"lorem
    ipsum"/"cookie" rule), and (c) when ``require_terminal_punct``, ends
    in ``.``/``!``/``?``/``"``.  Documents retaining fewer than
    ``min_lines_kept`` lines are dropped.

    Returns ``(id_col, text, n_lines_kept, n_lines_dropped)`` with
    ``text`` the surviving lines re-joined by ``sep``.

    100 TB: entirely row-local — ONE scan, higher-order array functions
    (`filter`/`array_join`) inside whole-stage codegen, no shuffle, no
    UDF.  The doc-level filter pushes into the same stage.
    """
    lines = F.split(F.col(text_col), _java_literal_regex(sep), -1)

    def _keep(x):
        # whitespace WORDS: split on \s+ and drop empties, so runs of
        # spaces, tabs, and leading/trailing whitespace never count
        words = F.filter(F.split(x, r"\s+", -1), lambda w: w != "")
        ok = F.size(words) >= min_words
        low = F.lower(x)
        for b in banned:
            ok = ok & ~low.contains(b.lower())
        if require_terminal_punct:
            ok = ok & x.rlike('[.!?"]$')
        return ok

    kept = F.filter(lines, _keep)
    out = df.select(
        F.col(id_col),
        F.array_join(kept, sep).alias(text_col),
        F.size(kept).alias("n_lines_kept"),
        (F.size(lines) - F.size(kept)).alias("n_lines_dropped"),
    )
    return out.where(F.col("n_lines_kept") >= min_lines_kept)


def dedup_lines(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    sep: str = "\n",
    max_df: int = 1,
    min_dedup_chars: int = 1,
):
    """Corpus-level exact line deduplication (the CCNet / RefinedWeb pass).

    Splits every document on ``sep``, counts each distinct line's
    occurrences across the WHOLE corpus, and drops every occurrence of a
    line that appears more than ``max_df`` times — boilerplate headers,
    nav bars, cookie banners, license blocks.  Surviving lines are
    rejoined in their original order.  Lines shorter than
    ``min_dedup_chars`` characters are exempt (always kept, and excluded
    from the counts): blank separators and one-character lines carry
    formatting, not boilerplate.

    This is CORPUS-level (a line is hot because it repeats across
    documents), complementing :func:`line_filter` (per-doc C4 rules) and
    :func:`dedup_substring_spans` (cross-doc L-gram runs at token
    granularity).  Reference scope: the reference engine exposes the
    scalar/expression layer only; this table-level pass is part of this
    package's LLM-pipeline surface.

    Returns ``(id_col, text, n_lines_kept, n_lines_dropped)``, one row
    per input document — a document whose every line is dropped keeps
    its row with empty text (filter on ``n_lines_kept`` to drop), and a
    NULL ``text`` likewise yields the empty-text row (kept=dropped=0)
    rather than silently vanishing from the output.

    100 TB: one explode, then a map-side-combined ``groupBy`` on the line
    string builds the HOT set (count > ``max_df``) — only hot lines flow
    into the join back, and the per-doc rebuild is one ``groupBy(id)``
    with an in-task array sort.  Deliberately NOT a window over the line
    key (a nav bar repeated 10^8 times would be one window partition);
    the hot-set equi-join's skewed keys are exactly what AQE skew-join
    splits.  Keys are the line strings themselves — exact, no
    hash-collision false drops; shuffle partitioning hashes the string
    anyway, and the bytes must travel once for the equality check.
    """
    # posexplode_OUTER keeps a (NULL, NULL) row for NULL-text documents,
    # honoring the one-row-per-input-document contract — a NULL text
    # yields the same empty-text row as an all-dropped document
    lines = df.select(
        F.col(id_col),
        F.posexplode_outer(
            F.split(F.col(text_col), _java_literal_regex(sep), -1)
        ).alias("_pos", "_line"),
    )
    eligible = F.length(F.col("_line")) >= min_dedup_chars
    hot = (
        lines.where(eligible)
        .groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > max_df)
        .select("_line", F.lit(True).alias("_hot"))
    )
    keep = F.col("_line").isNotNull() & (F.col("_hot").isNull() | ~eligible)
    return (
        lines.join(hot, "_line", "left")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.when(keep, F.struct("_pos", "_line")))
            ).alias("_kept"),
            F.count("_line").alias("_n_total"),
        )
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(F.col("_kept"), lambda s: s["_line"]), sep
            ).alias(text_col),
            F.size("_kept").alias("n_lines_kept"),
            (F.col("_n_total") - F.size("_kept"))
            .cast("int")
            .alias("n_lines_dropped"),
        )
    )


def canonical_url(col: SparkColumn) -> SparkColumn:
    """Canonicalize a URL for dedup keys: the web-corpus normalizer.

    Deterministic regex pipeline (Java∩RE2 subset — the oracle replays it
    verbatim; deliberately NOT Spark's ``parse_url``, which DuckDB lacks):

    1. trim; lowercase the scheme and host (userinfo/path case kept);
    2. drop the fragment (``#…``);
    3. drop tracking parameters (``utm_*``, ``fbclid``, ``gclid``,
       ``msclkid``, ``ref``), wherever they sit in the query;
    4. drop default ports (``:80`` for http, ``:443`` for https);
    5. drop a now-empty ``?`` and a trailing ``/`` on a non-root path.

    Malformed inputs pass through steps harmlessly (each regex just
    fails to match); null stays null.
    """
    u = F.trim(col)
    # 1. lowercase scheme:// and host[:port] only; the userinfo segment
    #    (user:Pass@) keeps its case — credentials are case-sensitive.
    #    Host starts after the LAST '@' of the authority (greedy match),
    #    matching how RFC-3986 parsers split userinfo from host.
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*://)", 1))
    userinfo = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*@)", 1)
    hostport = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/?#]*)", 1)
    )
    tail = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    u = F.when(scheme == "", u).otherwise(
        F.concat(scheme, userinfo, hostport, tail)
    )
    # 2. fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # 3. tracking params, separator-aware: drop '&param=v' outright, turn
    #    a leading '?param=v&' into '?', drop a lone '?param=v'
    _TRACK = r"(utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid|ref)"
    u = F.regexp_replace(u, rf"&{_TRACK}=[^&#]*", "")
    u = F.regexp_replace(u, rf"\?{_TRACK}=[^&#]*&", "?")
    u = F.regexp_replace(u, rf"\?{_TRACK}=[^&#]*$", "")
    # 4. default ports (no lookarounds — RE2/DuckDB must replay these)
    u = F.regexp_replace(u, r"^(http://[^/?#:]*):80($|[/?#].*)", "$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?#:]*):443($|[/?#].*)", "$1$2")
    # 5. trailing slash on a non-root path (root "host/" is kept)
    u = F.regexp_replace(
        u, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+/[^?#]*[^/?#])/(\?.*)?$", "$1$2"
    )
    return u


def token_fertility(
    df,
    group_col: str,
    text_col: str = "text",
    *,
    tokens_col: str | None = None,
):
    """Per-group tokenizer-fertility statistics — the corpus-card metric
    for "how expensively does this tokenizer encode each language/source"
    (the mT5 fertility table, Xue et al. 2021 §3.2; Rust et al. 2021):
    ``fertility = subword tokens / whitespace words`` and
    ``chars_per_token``.  High-fertility groups burn sequence length, so
    mixtures and per-group token budgets should be planned on these
    numbers, not on row counts.

    Subword tokens use the module's BPE-ish regex (``bpe_token_count``);
    words use the canonical whitespace tokens (``doc_tokens``, so one
    shared tokenization serves this op too).  Output per group:
    ``(n_docs, n_chars, n_words, n_tokens, fertility, chars_per_token)``
    with null ratios when their denominator is 0.  Sums are exact
    integers and each ratio is a single double division, so the numbers
    replay bit-exactly in any engine — no rounding grid needed.

    Scale shape: ONE map-side-combined keyed aggregation to a K-row
    table; the per-row token counts are plain column expressions inside
    the scan.  Null groups are excluded; null text counts 0 into every
    sum (a doc with nothing to encode, same rule as ``line_filter``).
    """
    words = F.coalesce(
        F.size(doc_tokens(df, text_col, tokens_col)).cast("bigint"), F.lit(0)
    )
    # size() is -1 for a null array (null text); clamp to the documented 0
    words = F.greatest(words, F.lit(0).cast("bigint"))
    toks = F.coalesce(bpe_token_count(F.col(text_col)), F.lit(0))
    chars = F.coalesce(F.length(F.col(text_col)).cast("bigint"), F.lit(0))
    grp = (
        df.where(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(chars).alias("n_chars"),
            F.sum(words).alias("n_words"),
            F.sum(toks).alias("n_tokens"),
        )
    )
    return grp.select(
        group_col,
        "n_docs",
        "n_chars",
        "n_words",
        "n_tokens",
        F.when(
            F.col("n_words") > 0,
            F.col("n_tokens").cast("double") / F.col("n_words"),
        ).alias("fertility"),
        F.when(
            F.col("n_tokens") > 0,
            F.col("n_chars").cast("double") / F.col("n_tokens"),
        ).alias("chars_per_token"),
    )


def vocab_coverage(
    df,
    vocab,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    tokens_col: str | None = None,
):
    """Per-document out-of-vocabulary rate against a reference vocabulary.

    The preprocessing QA gate "will this tokenizer/embedding vocabulary
    actually cover the corpus": ``vocab`` is a 1-column DataFrame of
    known terms (compare lowercased whitespace tokens — build it from
    :func:`vocab_topk` or a tokenizer's wordlist).  Output per document:
    ``(id, n_tokens, n_oov, oov_rate)`` — ``oov_rate`` null when the
    document has no tokens (0-vs-undefined, as everywhere in the repo).

    Scale shape: token instances join the BROADCAST vocabulary (a real
    vocab is ≤ a few 10⁵ terms — the sanctioned bounded-dimension
    broadcast) and aggregate keyed on the document id — one shuffle of
    (id, is_oov) pairs, the same shape as the term-frame family.  Docs
    with zero tokens re-attach by a left join from the (already
    id-unique) document frame, so they are never silently dropped.
    """
    vcol = vocab.columns[0]
    v = vocab.select(F.col(vcol).alias("_term")).dropDuplicates(["_term"])
    inst = df.select(
        F.col(id_col), F.explode(doc_tokens(df, text_col, tokens_col)).alias("_term")
    )
    counts = (
        inst.join(F.broadcast(v.withColumn("_known", F.lit(1))), "_term", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("_known").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_oov"),
        )
    )
    base = df.select(id_col)
    out = base.join(counts, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_tokens"), F.lit(0).cast("bigint")).alias("n_tokens"),
        F.coalesce(F.col("n_oov"), F.lit(0).cast("bigint")).alias("n_oov"),
    )
    return out.select(
        "*",
        F.when(
            F.col("n_tokens") > 0,
            F.col("n_oov").cast("double") / F.col("n_tokens"),
        ).alias("oov_rate"),
    )
