"""The graph operators against brute-force pure-Python references.

Each operator takes any edge list (see its docstring for the contract), so
the inputs here are small adversarial lists: duplicate and
reversed-duplicate edges, self-loops, NULL endpoints, dangling nodes, nodes
with no in-edge, NULL or non-positive weights, and an empty input.  The
references spell out the contract in the plainest code: no dedup trick,
no join, no early exit.
"""

import math
import random
from collections import Counter
from itertools import combinations

import pytest

SCHEMA = "src long, dst long, w double"


def _random_edges(seed: int, n: int = 40, nodes: int = 9) -> list:
    rng = random.Random(seed)

    def end():
        return None if rng.random() < 0.05 else rng.randrange(nodes)

    weights = [None, -1.0, 0.0, 0.5, 1.0, 2.0, 3.0]
    return [(end(), end(), rng.choice(weights)) for _ in range(n)]


CASES = {
    # duplicates (one with another weight), a reversed duplicate, a
    # self-loop, NULL endpoints; node 3's only out-edge goes to NULL
    "dup_null": [
        (1, 2, 1.0), (1, 2, 2.0), (2, 1, 1.0), (2, 3, 0.5),
        (None, 3, 1.0), (3, None, 1.0), (None, None, 1.0), (4, 4, 3.0),
    ],
    # 8 is dangling, 3 and 4 have no in-edge; weighted, the NULL, negative
    # and zero weights drop 5→2, 6→5 and 7→6 (and with them 6 and 7)
    "dangling_no_in_edge": [
        (1, 2, 1.0), (3, 2, 1.0), (4, 1, 2.0), (2, 8, 1.0),
        (5, 2, None), (6, 5, -1.0), (7, 6, 0.0), (1, 2, 1.0),
    ],
    # K4 on 1..4 in mixed orientation with repeats, a pendant 4-5 and a
    # triangle 5-6-7 whose edges arrive both ways
    "k4_and_triangle": [
        (1, 2, 1.0), (3, 1, 1.0), (1, 4, 2.0), (2, 3, 1.0), (4, 2, 1.0),
        (3, 4, 1.0), (2, 1, 1.0), (4, 5, 1.0), (5, 6, 1.0), (6, 7, 1.0),
        (7, 5, 1.0), (5, 7, 1.0), (6, 6, 1.0),
    ],
    "random": _random_edges(7),
}


def ref_pagerank(rows, iters: int, weighted: bool, damping: float = 0.85) -> dict:
    """Unnormalized PageRank of the contract: NULL endpoints (and NULL or
    non-positive weights) dropped, parallel edges merged, each dangling
    node given a weight-1 self-loop, every node kept."""
    w = {}
    for s, d, wt in rows:
        if s is None or d is None:
            continue
        if weighted:
            if wt is None or wt <= 0:
                continue
            w[s, d] = w.get((s, d), 0.0) + wt
        else:
            w[s, d] = 1.0
    nodes = {n for e in w for n in e}
    out = {n: 0.0 for n in nodes}
    for (s, _), x in w.items():
        out[s] += x
    for n in nodes:
        if out[n] == 0.0:
            w[n, n], out[n] = 1.0, 1.0
    rank = {n: 1.0 for n in nodes}
    for _ in range(iters):
        got = {n: 0.0 for n in nodes}
        for (s, d), x in w.items():
            got[d] += rank[s] * x / out[s]
        rank = {n: (1 - damping) + damping * got[n] for n in nodes}
    return rank


def _undirected(rows) -> set:
    return {
        (min(s, d), max(s, d))
        for s, d, _ in rows
        if s is not None and d is not None and s != d
    }


def ref_kcore(rows, k: int, max_rounds: int) -> set:
    """``max_rounds`` peels of the undirected simple graph, then
    ``(node, degree, converged)``."""
    und = _undirected(rows)
    for _ in range(max_rounds):
        deg = Counter(n for e in und for n in e)
        und = {(u, v) for u, v in und if deg[u] >= k and deg[v] >= k}
    deg = Counter(n for e in und for n in e)
    converged = all(d >= k for d in deg.values())
    return {(n, d, converged) for n, d in deg.items()}


def ref_triangles(rows) -> dict:
    und = _undirected(rows)
    nodes = sorted({n for e in und for n in e})
    tri = Counter()
    for x, y, z in combinations(nodes, 3):
        if {(x, y), (x, z), (y, z)} <= und:
            tri.update((x, y, z))
    return dict(tri)


def _offset(rows, by: int) -> list:
    return [(None if s is None else s + by, None if d is None else d + by, w) for s, d, w in rows]


# The cases as one graph, each in its own id range: no edge joins two
# cases, and every property above is per node, so one operator call checks
# them all (the kcore ``converged`` flag is global on both sides).
ALL = [e for i, rows in enumerate(CASES.values()) for e in _offset(rows, 100 * i)]


@pytest.fixture(scope="module")
def edges(spark):
    # a few partitions, so duplicates can meet only through the dedup
    return spark.createDataFrame(ALL, SCHEMA).repartition(3)


def _assert_ranks(got: dict, want: dict) -> None:
    assert set(got) == set(want)
    for n, r in want.items():
        # the operator rounds to 6 decimals and sums in partition order
        assert math.isclose(got[n], r, abs_tol=1e-6), (n, got[n], r)


@pytest.mark.parametrize("weighted", [False, True], ids=["unweighted", "weighted"])
def test_pagerank_matches_reference(edges, weighted):
    from dftly_spark.ops import pagerank

    for iters in range(4):
        out = pagerank(edges, iters=iters, weight="w" if weighted else None)
        got = {r["node"]: r["rank"] for r in out.collect()}
        _assert_ranks(got, ref_pagerank(ALL, iters, weighted))


def test_pagerank_drops_null_endpoints(spark):
    """A NULL id is no node, and an edge to NULL gives no out-degree: node
    3 is dangling, so it keeps its own rank through the self-loop."""
    from dftly_spark.ops import pagerank

    rows = [(1, 2), (2, 1), (2, 3), (None, 3), (3, None), (4, 4)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, iters=3).collect()}
    assert None not in got
    _assert_ranks(got, ref_pagerank([(s, d, None) for s, d in rows], 3, weighted=False))


def test_kcore_matches_reference(edges):
    from dftly_spark.ops import kcore

    for k, rounds in [(2, 3), (3, 1), (3, 3)]:
        got = {tuple(r) for r in kcore(edges, k, max_rounds=rounds).collect()}
        assert got == ref_kcore(ALL, k, rounds), (k, rounds)


def test_triangle_count_matches_reference(edges):
    from dftly_spark.ops import triangle_count

    got = {r["node"]: r["triangles"] for r in triangle_count(edges).collect()}
    assert got == ref_triangles(ALL)


def test_graph_operators_on_empty_input(spark):
    from dftly_spark.ops import kcore, pagerank, triangle_count

    empty = spark.createDataFrame([], SCHEMA)
    assert pagerank(empty, iters=2).count() == 0
    assert pagerank(empty, iters=2, weight="w").count() == 0
    assert kcore(empty, 2).count() == 0
    assert triangle_count(empty).count() == 0
