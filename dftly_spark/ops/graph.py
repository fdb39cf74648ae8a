"""Graph analytics over relational edge lists.

``dup_clusters`` (ops/dedup.py) already does connected components for the
dedup pipeline; this module adds the other graph primitive a corpus/web
pipeline keeps reaching for — PageRank over a link/affinity graph (host
authority for crawl prioritization, supplier/customer importance, dup-graph
centrality).

Design for 100 TB graphs: every iteration is ONE edge-keyed equi-join plus
ONE destination-keyed aggregation — the standard bulk-synchronous PageRank
data layout (contributions flow along edges; no adjacency lists are ever
collected).  Node/edge frames are plain DataFrames, so AQE handles skewed
hubs the same way it handles any hot aggregation key (the classic
supernode caveat and its salting fix are the same as `salted_agg`).
Dangling nodes get SELF-LOOPS at prep time — the common production choice
(it conserves total rank mass without a second pass over the rank frame per
iteration), and the choice that keeps the update rule a single
relational expression an external engine can replay verbatim.

Every operator takes the edge list as it comes: it drops edges with a NULL
endpoint, collapses duplicate edges and repairs what its algorithm needs
itself.  No caller claim about the input selects a different path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scale import durable_checkpoint

from ..sqlgen import portable_round

# Edge rows per forced-shuffle-hash build task in triangle_count.  The
# build side holds m/partitions (src, dst[, deg]) rows in an in-memory
# hash map that cannot spill; ~150k rows is ~10-15 MB of map — the ratio
# the 19M-edge/128-partition SCALING.md probe ran linear at, with
# comfortable headroom on a 1 GiB executor heap.
_EDGES_PER_BUILD_TASK = 150_000

# Peeling rounds between kcore's lineage truncations, and PageRank
# iterations between rank-frame truncations (never reached at the default
# 5 iterations).  kcore's rounds between checkpoints are broadcast probes
# over a cached frame, cheap to re-derive; a checkpoint per round was the
# super-linear term at 4× data (SCALING.md).
_KCORE_CHECKPOINT_EVERY = 3
_PAGERANK_CHECKPOINT_EVERY = 8

# PageRank output rounding: per-destination float sums are partition-order
# dependent at ~1e-15 per iteration, so ranks are cut to this many decimals.
_PAGERANK_DECIMALS = 6


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The distinct undirected edges ``(_u, _v)`` with ``_u < _v``.

    ``src != dst`` is NULL for a NULL endpoint, so the filter drops those
    edges along with self-loops; ``least``/``greatest`` make ``(a, b)`` and
    ``(b, a)`` one row before the dedup.
    """
    return (
        edges.where(F.col(src) != F.col(dst))
        .select(F.least(src, dst).alias("_u"), F.greatest(src, dst).alias("_v"))
        .distinct()
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts: ``(node, triangles)`` for an undirected graph.

    Input contract: any edge list.  Direction is ignored, duplicate and
    reversed-duplicate edges count once, and self-loops and edges with a
    NULL endpoint are dropped.  A node in no triangle is absent.

    Degree-oriented wedge closing (the MapReduce-classic node-iterator++
    layout): edges are canonicalized undirected, then ORIENTED from the
    lower-(degree, id) endpoint to the higher, so every triangle is
    enumerated exactly once from its lowest-ranked corner AND the oriented
    out-degree is bounded by O(sqrt(m)) — the hub-supernode defense that
    keeps the wedge self-join's fanout polynomial-free at web scale, where
    orienting by raw id would put a celebrity node's full neighbor list on
    one side of the join.  Three shuffles total: degree agg, wedge
    self-join (equi on the wedge corner, the rank predicate rides along),
    and the closing equi-join; per-node counts are one final explode+agg.
    Counts are orientation-invariant, so any engine can replay them with
    plain id-ordered enumeration.
    """
    # The canonical edge frame is referenced four times (two degree joins +
    # the orientation) and the oriented frame three times (both wedge sides
    # + the closer) — without lineage truncation the caller's whole edge
    # build re-executes (and re-broadcasts) once per reference, which is
    # both 5× the work and the actual heap blowup on small executors.
    und = durable_checkpoint(_undirected(edges, src, dst), eager=False)
    deg = (
        und.select(F.col("_u").alias("_n"))
        .unionByName(und.select(F.col("_v").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    du = deg.select(F.col("_n").alias("_un"), F.col("_d").alias("_ud"))
    dv = deg.select(F.col("_n").alias("_vn"), F.col("_d").alias("_vd"))
    with_deg = und.join(du, und["_u"] == du["_un"]).join(
        dv, und["_v"] == dv["_vn"]
    )
    # (deg, id) lexicographic order spelled as primitive comparisons, NOT
    # F.struct(a, b) < F.struct(c, d): the struct form allocates two rows
    # per evaluation, and in the wedge join below that is two allocations
    # per PROBED CANDIDATE — round-15 A/B at sf1.0 (12M edges, 411M
    # wedges): struct 72.8 s cold / 5.2-9.3 s warm vs flat 7.4 s cold /
    # 3.7-3.8 s warm.  Fields are non-null (counts and edge endpoints), so
    # the boolean form is exactly the struct ordering.
    u_first = (F.col("_ud") < F.col("_vd")) | (
        (F.col("_ud") == F.col("_vd")) & (F.col("_u") < F.col("_v"))
    )
    oriented = durable_checkpoint(
        with_deg.select(
            F.when(u_first, F.col("_u")).otherwise(F.col("_v")).alias("_s"),
            F.when(u_first, F.col("_v")).otherwise(F.col("_u")).alias("_t"),
            F.when(u_first, F.col("_vd")).otherwise(F.col("_ud")).alias("_td"),
        ),
        eager=False,
    )
    e1 = oriented.select(
        F.col("_s").alias("_w1s"), F.col("_t").alias("_w1t"), F.col("_td").alias("_w1d")
    )
    e2 = oriented.select(
        F.col("_s").alias("_w2s"), F.col("_t").alias("_w2t"), F.col("_td").alias("_w2d")
    )
    # SHUFFLE_HASH hints building the EDGE side of both joins: the wedge
    # list is O(m·d_max) rows — the dominant intermediate — and must only
    # ever be STREAMED, never sorted and never built into a hash map.  A
    # sort-merge plan here sorts the wedge stream; under a small executor
    # heap that sort degenerates into hundreds of spill files whose merge
    # read-ahead buffers alone exhaust the heap (observed at sf0.1 / 1 GiB
    # heap).  The edge side is m/num_partitions rows per task — a few MB
    # of hash map — so shuffled-hash keeps peak memory flat regardless of
    # wedge count.
    # Partition count: the forced-hash build's per-task budget is
    # m/partitions and it CANNOT spill — size partitions so an edge
    # slice fits executor memory (measured: 19M edges over 32 partitions
    # fails the build on an 8 GiB heap; over 128 it runs linear —
    # SCALING.md).  Derived from the edge count: one count on the
    # already-checkpointed oriented frame (materializes the checkpoint the
    # joins need anyway, so the extra job is a cache scan), targeting
    # ``_EDGES_PER_BUILD_TASK`` edge rows per hash build — never below the
    # session's shuffle.partitions, so small graphs keep full parallelism.
    sess = int(oriented.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    partitions = max(sess, -(-oriented.count() // _EDGES_PER_BUILD_TASK))
    e2 = e2.repartition(partitions, "_w2s")
    # rank predicate in primitive-comparison form — see u_first above; this
    # is the hot expression of the whole operator (evaluated once per
    # candidate wedge pair, ~2 per wedge)
    rank_lt = (e1["_w1d"] < e2["_w2d"]) | (
        (e1["_w1d"] == e2["_w2d"]) & (e1["_w1t"] < e2["_w2t"])
    )
    wedges = e1.join(
        e2.hint("shuffle_hash"), (e1["_w1s"] == e2["_w2s"]) & rank_lt
    ).select("_w1s", "_w1t", "_w2t")
    closer = oriented.select(
        F.col("_s").alias("_cs"), F.col("_t").alias("_ct")
    ).repartition(partitions, "_cs", "_ct")
    tris = wedges.join(
        closer.hint("shuffle_hash"),
        (wedges["_w1t"] == closer["_cs"]) & (wedges["_w2t"] == closer["_ct"]),
        "left_semi",
    )
    return (
        tris.select(
            F.explode(F.array("_w1s", "_w1t", "_w2t")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    *,
    max_rounds: int = 8,
) -> DataFrame:
    """Nodes of the ``k``-core after ``max_rounds`` of peeling:
    ``(node, degree, converged)`` within the surviving subgraph.

    Input contract: any edge list, read as an undirected simple graph.
    Direction is ignored, duplicate and reversed-duplicate edges count
    once, and self-loops and edges with a NULL endpoint are dropped.

    Iteratively removes nodes of degree < ``k`` (and their edges) from the
    undirected graph — the standard dense-subgraph / spam-farm / community
    filter.  Peeling is run a FIXED ``max_rounds`` times so the result is
    a deterministic function of the edge list that any engine replays
    verbatim (the pagerank convention); ``converged`` (same value on every
    row, a 1-row scalar attach) is TRUE iff no surviving node has degree
    < ``k`` — i.e. the budget sufficed and the output IS the exact
    k-core.  A FALSE flag means the peel was truncated: re-run with a
    larger ``max_rounds`` (cheap: each round is ONE degree agg + ONE
    semi-join per endpoint over the shrinking edge frame).

    Scale shape: the symmetric edge frame is the only data-sized object;
    per round, degrees come from one map-side-combined count on ``_src``
    and survivors from one left-semi hash join per endpoint against the
    (≤ nodes)-sized broadcast survivor list.  Lineage is truncated every
    ``_KCORE_CHECKPOINT_EVERY`` rounds (``durable_checkpoint``) so the
    iterated plan never re-executes the caller's build.
    """
    und = _undirected(edges, src, dst)
    # symmetric orientation: node degree == out-degree of _s
    e = durable_checkpoint(
        und.select(F.col("_u").alias("_s"), F.col("_v").alias("_t")).unionByName(
            und.select(F.col("_v").alias("_s"), F.col("_u").alias("_t"))
        ),
        eager=False,
    )
    # Survivor-list BROADCAST + sparse checkpointing (measured at sf0.1
    # ×4 replicas: 45.6s → 11.7s, growth 6.9× → 2.0× at 4× data): with
    # the survivor list broadcast, each round's two semi-joins are
    # row-local probes — no per-round shuffle of the edge frame — which
    # ALSO makes un-checkpointed rounds cheap to re-derive (a cache scan
    # + broadcast filters), so caching every round is wasteful: the
    # per-round cache generations were the super-linear term (block-store
    # churn + shuffle-file accumulation).
    # Fixed-point early exit at checkpoint boundaries: surviving-edge
    # counts are monotonically non-increasing, so an UNCHANGED count
    # across a whole checkpoint window proves no round in the window
    # removed anything — every remaining round is the identity and the
    # full-budget output is already in hand (bit-identical result, so
    # oracles replaying the whole budget still match).  The count rides
    # the materialization the checkpoint performs anyway; checking MORE
    # often is a loss (a mid-window count re-derives every agg since the
    # last checkpoint — measured at sf0.1, per-round counts gave back
    # everything they saved), so graphs that die mid-window are only
    # caught at the next boundary.
    prev_edges: int | None = None
    for r in range(max_rounds):
        good = F.broadcast(
            e.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_d"))
            .where(F.col("_d") >= k)
            .select(F.col("_s").alias("_g"))
        )
        e = e.join(good, e["_s"] == good["_g"], "left_semi").join(
            good, e["_t"] == good["_g"], "left_semi"
        )
        if (r + 1) % _KCORE_CHECKPOINT_EVERY == 0 and r + 1 < max_rounds:
            e = durable_checkpoint(e, eager=False)
            cnt = e.count()
            if cnt == prev_edges:
                break
            prev_edges = cnt
    # Final degrees are referenced twice (output rows + the convergence
    # scalar) — truncate lineage once so the peeled plan does not
    # re-execute per reference.  ``converged`` = no surviving node is
    # below k (min over an empty core is NULL → vacuously converged);
    # a (≤1)-row frame, attached by sanctioned broadcast scalar.
    deg = durable_checkpoint(
        e.groupBy("_s")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("_s").alias("node"), "degree"),
        eager=False,
    )
    flag = deg.agg(
        F.coalesce(F.min(F.col("degree") >= F.lit(k)), F.lit(True)).alias(
            "converged"
        )
    )
    return deg.crossJoin(F.broadcast(flag))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iters: int = 5,
    damping: float = 0.85,
    weight: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank: ``(node, rank)`` after ``iters`` rounds.

    Input contract: any directed edge list.  Edges with a NULL endpoint
    are dropped, and with ``weight`` so are edges whose weight is NULL or
    not positive (they would null a contribution or flip its sign).
    Duplicate edges collapse into one; weighted, their weights add up.
    The nodes are the endpoints of the edges that remain.  A dangling
    node (no out-edge) gets a self-loop of weight 1, and a node with no
    in-edge is kept, with the teleport rank ``1 - damping``.

    Fixed iteration count (not convergence-test) keeps the computation a
    deterministic function of the edge list — replayable by any engine —
    and is how production crawl-frontier ranks run anyway (a known
    iteration budget per refresh).  This is the UNNORMALIZED formulation
    (GraphX's default): ranks start at 1.0 and ``r = (1-d) + d·Σ
    contributions``, so total mass stays N and no corpus-count scalar ever
    needs to meet its own lineage in a join (Spark 4.1's self-join
    disambiguation rejects ``frame.crossJoin(frame.agg(...))`` as
    ambiguous).  Divide by N outside if you want a distribution.  Output
    is rounded to ``_PAGERANK_DECIMALS`` because per-destination float sums
    are partition-order dependent at ~1e-15 per iteration.

    Each round: contributions = rank/out_degree shipped along edges (edge
    join keyed on ``_src``) and one ``_dst``-keyed sum.  The out-degree is
    folded into the checkpointed edge frame once, so an iteration adds no
    degree join, and no round joins the node list.
    Lineage truncation goes through ``durable_checkpoint``: set a session
    checkpoint dir (``spark.sparkContext.setCheckpointDir``) and every
    truncation becomes a durable ``checkpoint()`` that survives executor
    loss — the cluster-production mode (probed @8×, SCALING.md).
    """
    ends = [F.col(src).alias("_src"), F.col(dst).alias("_dst")]
    known = F.col("_src").isNotNull() & F.col("_dst").isNotNull()
    if weight is not None:
        # parallel weighted edges COMBINE (sum), the weighted analog of the
        # unweighted distinct
        e = (
            edges.select(*ends, F.col(weight).cast("double").alias("_w"))
            .where(known & (F.col("_w") > 0))
            .groupBy("_src", "_dst")
            .agg(F.sum("_w").alias("_w"))
        )
        out_w = F.col("_w")
    else:
        e = edges.select(*ends).where(known).distinct()
        out_w = F.lit(1)
    # The edge frame feeds the node frame and the edge join below, and the
    # degree-annotated frame feeds EVERY iteration; without truncation
    # Spark re-executes the caller's whole edge build once per reference.
    # Checkpoints materialize each once on first use (lazy, so plan
    # introspection still works).  Measured at sf0.1 (1.2M edges,
    # iters=5): 27.5s -> 5.4s steady-state together with the degree fold
    # below and integer node ids.
    e = durable_checkpoint(e, eager=False)
    # The node frame: one map-side-combined aggregation gives every node
    # its out-degree (out-STRENGTH Σw when weighted), 0 for a dangling node
    # (not a per-_src window, which would put a hub supernode's whole edge
    # list on one reducer).
    nodes = (
        e.select(F.col("_src").alias("_n"), out_w.alias("_o"))
        .unionByName(e.select(F.col("_dst").alias("_n"), F.lit(0).alias("_o")))
        .groupBy("_n")
        .agg(F.sum("_o").alias("_deg"))
    )
    if iters < 1:
        return nodes.select(
            F.col("_n").alias("node"),
            portable_round(F.lit(1.0), _PAGERANK_DECIMALS).alias("rank"),
        )
    # The degree-annotated edge frame: a dangling node matches no edge in
    # the LEFT join and becomes a self-loop of weight 1 and degree 1, so
    # every node is a ``_src`` here.  A weighted contribution ships
    # rank·w/strength.  SHUFFLE_HASH builds the node side and streams the
    # edges; a sort-merge join would sort every edge (x67 at sf0.1,
    # local[4] on 4 vCPUs, warm medians: 4.4 -> 4.0 s).
    dangling = F.col("_dst").isNull()
    e2 = durable_checkpoint(
        nodes.hint("shuffle_hash").join(e, nodes["_n"] == e["_src"], "left").select(
            F.col("_n").alias("_src"),
            F.coalesce(F.col("_dst"), F.col("_n")).alias("_dst"),
            *([F.coalesce(F.col("_w"), F.lit(1.0)).alias("_w")] if weight is not None else []),
            F.when(dangling, F.lit(1)).otherwise(F.col("_deg")).alias("_deg"),
        ),
        eager=False,
    )
    teleport = F.lit(1.0 - damping)
    ranks = None
    for i in range(iters):
        if ranks is None:
            # iteration 1 folds the constant initial rank 1.0 straight into
            # the contribution expression instead of joining a constant
            # frame (every ``_src`` has that rank, so the arithmetic is
            # the join's)
            rval, contrib_rows = F.lit(1.0), e2
        else:
            # SHUFFLE_HASH on the rank side: the edge stream is the
            # dominant input and must never be sorted (SMJ sorts BOTH
            # sides per iteration); the build side is nodes/partitions
            # rows of (long, double) — bounded per task at any scale.
            # Round-14 A/B: x123 5.54 -> 3.96 s, x67 -0.3 s.  Distinct
            # column names per join side: the iterated frames all share
            # lineage with `e`, and Spark's self-join resolution is
            # ambiguous for repeated attribute names across iterations.
            # A node with no in-edge has no rank row: the LEFT join gives
            # it the teleport rank it always has after round 1.
            r_side = ranks.hint("shuffle_hash").select(
                F.col("_n").alias("_rsrc"), F.col("_r").alias("_rval")
            )
            rval = F.coalesce(F.col("_rval"), teleport)
            contrib_rows = e2.join(r_side, e2["_src"] == r_side["_rsrc"], "left")
        contrib = (
            contrib_rows.select(
                F.col("_dst").alias("_cn"),
                (
                    (rval * F.col("_w") / F.col("_deg"))
                    if weight is not None
                    else (rval / F.col("_deg"))
                ).alias("_c"),
            )
            .groupBy("_cn")
            .agg(F.sum("_c").alias("_sum"))
        )
        ranks = contrib.select(
            F.col("_cn").alias("_n"), (teleport + damping * F.col("_sum")).alias("_r")
        )
        if (i + 1) % _PAGERANK_CHECKPOINT_EVERY == 0 and i + 1 < iters:
            ranks = durable_checkpoint(ranks, eager=False)
    # one LEFT join from the node list restores the nodes with no in-edge;
    # the list comes from the cached ``e2``, not from a second aggregation
    # over the edges
    node_list = e2.select(F.col("_src").alias("_n")).distinct()
    return node_list.join(ranks, "_n", "left").select(
        F.col("_n").alias("node"),
        portable_round(F.coalesce(F.col("_r"), teleport), _PAGERANK_DECIMALS).alias("rank"),
    )
