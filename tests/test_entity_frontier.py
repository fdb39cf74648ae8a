"""fuzzy_join (prefix-filter set-similarity join), pareto_front,
calibration_curve — semantics pinned against tiny hand-checked frames plus
a brute-force cross-check for the prefix filter's exact-recall guarantee."""

import itertools

import pytest

from dftly_spark.ops import calibration_curve, fuzzy_join, pareto_front


# ---------------------------------------------------------------------------
# fuzzy_join
# ---------------------------------------------------------------------------

def _jac(a: str, b: str, n: int) -> float:
    def sh(t):
        ws = t.lower().split()
        if len(ws) < n:
            return {" ".join(ws)}
        return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}

    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B)


def test_fuzzy_join_exact_recall_vs_bruteforce(spark):
    """Prefix filtering must return EVERY pair >= threshold (recall 1),
    and nothing below it — checked against the O(n*m) definition."""
    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    import random

    rng = random.Random(7)
    left = [(i, " ".join(rng.choices(words, k=rng.randint(1, 6)))) for i in range(30)]
    right = [(100 + i, " ".join(rng.choices(words, k=rng.randint(1, 6)))) for i in range(30)]
    ldf = spark.createDataFrame(left, "id bigint, name string")
    rdf = spark.createDataFrame(right, "id bigint, name string")

    for t, n in [(0.5, 1), (0.34, 1), (0.5, 2), (1.0, 1)]:
        got = {
            (r["id_l"], r["id_r"]): r["jaccard"]
            for r in fuzzy_join(ldf, rdf, "id", "name", n=n, threshold=t).collect()
        }
        want = {
            (i, j): _jac(a, b, n)
            for (i, a), (j, b) in itertools.product(left, right)
            if _jac(a, b, n) >= t
        }
        assert set(got) == set(want), (t, n, set(want) - set(got), set(got) - set(want))
        for k in want:
            assert got[k] == pytest.approx(want[k], abs=1e-12)


def test_fuzzy_join_best_match_tiebreak(spark):
    ldf = spark.createDataFrame([(1, "red cat")], "id bigint, name string")
    rdf = spark.createDataFrame(
        [(10, "red cat"), (11, "red cat"), (12, "red dog")],
        "id bigint, name string",
    )
    rows = fuzzy_join(
        ldf, rdf, "id", "name", n=1, threshold=0.3, best_match=True
    ).collect()
    assert len(rows) == 1
    # jaccard 1.0 ties between 10 and 11 -> lowest id_r wins
    assert (rows[0]["id_l"], rows[0]["id_r"], rows[0]["jaccard"]) == (1, 10, 1.0)


def test_fuzzy_join_df_order_same_pairs_as_hash_order(spark):
    """Prefix filtering is lossless under ANY total order: the ascending
    document-frequency order must return the identical (pair, jaccard)
    set as the default hash order — brute-force checked too."""
    import random

    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    rng = random.Random(13)
    left = [(i, " ".join(rng.choices(words, k=rng.randint(1, 6)))) for i in range(40)]
    right = [(100 + i, " ".join(rng.choices(words, k=rng.randint(1, 6)))) for i in range(40)]
    ldf = spark.createDataFrame(left, "id bigint, name string")
    rdf = spark.createDataFrame(right, "id bigint, name string")

    for t, n in [(0.5, 1), (0.34, 1), (0.6, 2)]:
        hash_pairs = {
            (r["id_l"], r["id_r"], round(r["jaccard"], 12))
            for r in fuzzy_join(ldf, rdf, "id", "name", n=n, threshold=t).collect()
        }
        df_pairs = {
            (r["id_l"], r["id_r"], round(r["jaccard"], 12))
            for r in fuzzy_join(
                ldf, rdf, "id", "name", n=n, threshold=t, token_order="df"
            ).collect()
        }
        assert df_pairs == hash_pairs, (t, n)
        want = {
            (i, j)
            for (i, a), (j, b) in itertools.product(left, right)
            if _jac(a, b, n) >= t
        }
        assert {(l, r) for l, r, _ in df_pairs} == want

    with pytest.raises(ValueError, match="token_order"):
        fuzzy_join(ldf, rdf, "id", "name", token_order="lex")


def test_fuzzy_join_max_prefix_df_pair_set_unchanged(spark):
    """The hot-gram salted reroute (max_prefix_df) must return the
    IDENTICAL (pair, jaccard) set as the plain join on a SKEWED corpus —
    every doc shares a boilerplate phrase, so its grams are prefix-hot —
    at a cap that splits hot from cold, at a cap that makes EVERY gram
    hot, combined with token_order=\"df\", and checked against the
    brute-force definition."""
    import random

    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    rng = random.Random(21)
    # boilerplate prefix on every row -> its unigrams appear in ~every set
    bp = "common legal header"
    left = [
        (i, bp + " " + " ".join(rng.choices(words, k=rng.randint(1, 5))))
        for i in range(35)
    ]
    right = [
        (100 + i, bp + " " + " ".join(rng.choices(words, k=rng.randint(1, 5))))
        for i in range(35)
    ]
    ldf = spark.createDataFrame(left, "id bigint, name string")
    rdf = spark.createDataFrame(right, "id bigint, name string")

    for t, n in [(0.5, 1), (0.4, 2)]:
        base = {
            (r["id_l"], r["id_r"], round(r["jaccard"], 12))
            for r in fuzzy_join(ldf, rdf, "id", "name", n=n, threshold=t).collect()
        }
        want = {
            (i, j)
            for (i, a), (j, b) in itertools.product(left, right)
            if _jac(a, b, n) >= t
        }
        assert {(l, r) for l, r, _ in base} == want
        for kwargs in (
            {"max_prefix_df": 8},                       # boilerplate grams hot
            {"max_prefix_df": 1},                       # EVERY shared gram hot
            {"max_prefix_df": 10**9},                   # nothing hot
            {"max_prefix_df": 8, "salt_buckets": 3},
            {"max_prefix_df": 8, "token_order": "df"},
        ):
            capped = {
                (r["id_l"], r["id_r"], round(r["jaccard"], 12))
                for r in fuzzy_join(
                    ldf, rdf, "id", "name", n=n, threshold=t, **kwargs
                ).collect()
            }
            assert capped == base, (t, n, kwargs)

    with pytest.raises(ValueError, match="salt_buckets"):
        fuzzy_join(ldf, rdf, "id", "name", max_prefix_df=8, salt_buckets=1)


def test_fuzzy_join_self_join_shared_tokens(spark):
    """One tokenized frame, the SAME object, on both sides of a self-join
    must not trip ambiguous-self-join analysis — and must return the same
    pairs as fresh-built sides."""
    from dftly_spark.ops import TOKENS_COL, tokenized_docs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text with no overlap"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    tok = tokenized_docs(docs)
    shared = fuzzy_join(
        tok, tok, "doc_id", "text", n=2, threshold=0.5,
        tokens_col_l=TOKENS_COL, tokens_col_r=TOKENS_COL,
    )
    got = sorted(
        (r["id_l"], r["id_r"], round(r["jaccard"], 12)) for r in shared.collect()
    )
    want = sorted(
        (r["id_l"], r["id_r"], round(r["jaccard"], 12))
        for r in fuzzy_join(docs, docs, "doc_id", "text", n=2, threshold=0.5).collect()
    )
    assert got == want
    # the planted near-pair must be present both directions + self-pairs
    ids = {(l, r) for l, r, _ in got}
    assert (1, 2) in ids and (2, 1) in ids and (1, 1) in ids


def test_fuzzy_join_empty_and_threshold_validation(spark):
    ldf = spark.createDataFrame([(1, "   "), (2, "a b")], "id bigint, name string")
    rdf = spark.createDataFrame([(3, "a b")], "id bigint, name string")
    out = fuzzy_join(ldf, rdf, "id", "name", n=1, threshold=0.5).collect()
    assert [(r["id_l"], r["id_r"]) for r in out] == [(2, 3)]  # blank left dropped
    with pytest.raises(ValueError, match="threshold"):
        fuzzy_join(ldf, rdf, "id", "name", threshold=0.0)


# ---------------------------------------------------------------------------
# pareto_front
# ---------------------------------------------------------------------------

def test_pareto_front_dominance_and_ties(spark):
    rows = [
        # (group, x, y)    frontier for g1: (5,1), (3,4) x2 copies, (1,9)
        ("g1", 5, 1), ("g1", 3, 4), ("g1", 3, 4), ("g1", 1, 9),
        ("g1", 3, 3),   # dominated by (3,4): equal x, smaller y
        ("g1", 2, 4),   # dominated by (3,4): smaller x, equal y
        ("g1", 1, 1),   # dominated by everything
        ("g2", 1, 1),   # alone in its group -> frontier
    ]
    df = spark.createDataFrame(rows, "g string, x int, y int")
    got = sorted(
        (r["g"], r["x"], r["y"])
        for r in pareto_front(df, "x", "y", by=["g"]).collect()
    )
    assert got == [
        ("g1", 1, 9), ("g1", 3, 4), ("g1", 3, 4), ("g1", 5, 1), ("g2", 1, 1),
    ]


def test_pareto_front_global_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, 5), (2, 4), (3, 1), (None, 9), (4, None)],
        "x int, y int",
    )
    got = sorted((r["x"], r["y"]) for r in pareto_front(df, "x", "y").collect())
    assert got == [(1, 5), (2, 4), (3, 1)]  # null coords excluded


def test_pareto_front_matches_bruteforce(spark):
    import random

    rng = random.Random(11)
    rows = [(rng.randint(0, 20), rng.randint(0, 20)) for _ in range(200)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = sorted((r["x"], r["y"]) for r in pareto_front(df, "x", "y").collect())
    want = sorted(
        p for p in rows
        if not any(
            q[0] >= p[0] and q[1] >= p[1] and (q[0] > p[0] or q[1] > p[1])
            for q in rows
        )
    )
    assert got == want


def test_pareto_front_ungrouped_two_level_matches_bruteforce(spark):
    """Ungrouped numeric-x frontier takes the two-level cummax path: same
    result as dominance brute force, and the big frame's window shuffle is
    keyed by range bucket, never SinglePartition."""
    import random

    rng = random.Random(7)
    rows = [(rng.random() * 1000.0, rng.randint(0, 1000)) for _ in range(800)]
    df = spark.createDataFrame(rows, "x double, y int")
    out = pareto_front(df, "x", "y")
    got = sorted((r["x"], r["y"]) for r in out.collect())
    want = sorted(
        p for p in rows
        if not any(
            q[0] >= p[0] and q[1] >= p[1] and (q[0] > p[0] or q[1] > p[1])
            for q in rows
        )
    )
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_pid" in plan


def test_pareto_front_caller_temp_name_collision(spark):
    # public op: a caller frame already carrying _f_x/_ymax/_pid columns
    # must not break the join-back or the bucketing
    df = spark.createDataFrame(
        [(1, 5, 0, 0, 0), (2, 4, 0, 0, 0), (2, 9, 0, 0, 0), (3, 1, 0, 0, 0)],
        "x int, y int, _f_x int, _ymax int, _pid int",
    )
    got = sorted((r["x"], r["y"]) for r in pareto_front(df, "x", "y").collect())
    assert got == [(2, 9), (3, 1)]


# ---------------------------------------------------------------------------
# calibration_curve
# ---------------------------------------------------------------------------

def test_calibration_curve_bins_and_rates(spark):
    rows = [
        (0.05, 0), (0.05, 0), (0.15, 1), (0.95, 1), (1.0, 1),  # 1.0 -> last bin
        (-0.5, 0),  # below lo -> clamped to bin 0
    ]
    df = spark.createDataFrame(rows, "s double, y int")
    got = {
        r["bin"]: (r["n"], r["n_pos"], r["mean_score"], r["frac_pos"])
        for r in calibration_curve(df, "s", "y", bins=10).collect()
    }
    assert set(got) == {0, 1, 9}
    n, npos, ms, fp = got[0]
    assert (n, npos) == (3, 0) and fp == 0.0
    assert ms == pytest.approx((0.05 + 0.05 - 0.5) / 3, abs=1e-6)
    assert got[1] == (1, 1, 0.15, 1.0)
    n, npos, ms, fp = got[9]
    assert (n, npos, fp) == (2, 2, 1.0) and ms == pytest.approx(0.975, abs=1e-6)


def test_pareto_front_null_group_key_kept(spark):
    # groupBy keeps a null group; the null-safe join-back must too
    df = spark.createDataFrame(
        [(None, 5, 1), (None, 1, 9), (None, 1, 1), ("g", 2, 2)],
        "g string, x int, y int",
    )
    got = sorted(
        ((r["g"], r["x"], r["y"]) for r in pareto_front(df, "x", "y", by=["g"]).collect()),
        key=lambda t: (t[0] is not None, t[0] or "", t[1], t[2]),
    )
    assert got == [(None, 1, 9), (None, 5, 1), ("g", 2, 2)]


# ---------------------------------------------------------------------------
# property: prefix filtering is LOSSLESS for any corpus/threshold
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_word = st.sampled_from("aa bb cc dd ee ff gg hh".split())
_name = st.lists(_word, min_size=1, max_size=7).map(" ".join)


@given(
    st.lists(_name, min_size=1, max_size=12),
    st.lists(_name, min_size=1, max_size=12),
    st.sampled_from([0.25, 0.34, 0.5, 0.67, 0.75, 1.0]),
    st.sampled_from([1, 2]),
)
@settings(max_examples=25, deadline=None)
def test_fuzzy_join_recall_property(spark, lnames, rnames, t, n):
    """For ANY corpus pair and threshold, the prefix+length+positional
    filtered join returns exactly the brute-force >= t pair set."""
    ldf = spark.createDataFrame(list(enumerate(lnames)), "id bigint, name string")
    rdf = spark.createDataFrame(
        [(100 + i, s) for i, s in enumerate(rnames)], "id bigint, name string"
    )
    got = {
        (r["id_l"], r["id_r"])
        for r in fuzzy_join(ldf, rdf, "id", "name", n=n, threshold=t).collect()
    }
    want = {
        (i, 100 + j)
        for i, a in enumerate(lnames)
        for j, b in enumerate(rnames)
        if _jac(a, b, n) >= t
    }
    assert got == want, (sorted(want - got), sorted(got - want))
