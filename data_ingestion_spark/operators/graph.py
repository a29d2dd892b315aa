"""Iterative graph operators over edge DataFrames.

Companion to the connected-components labeler in dedup.py (the dedup
clustering pass): PageRank here serves corpus-graph analyses — node
importance over similarity graphs, link graphs, or bipartite entity graphs
(e.g. customer↔supplier) — with fully deterministic, oracle-replayable
iterations.

Scale notes: every iteration is one equi-join (contributions) plus one
partial-aggregated groupBy on the destination key; nothing materializes
beyond (node, rank). ``localCheckpoint`` truncates lineage each round so
unrolled iterations don't stack a deep plan tree (same pattern as
dedup.connected_components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cut


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
    damping: float = 0.85,
    every_node_has_out_edges: bool = False,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    The classic simplified formulation (the one in the original Spark
    examples): ``pr'(v) = (1-d)/N + d * Σ pr(u)/outdeg(u)`` over in-edges
    ``u→v``; dangling-node mass is not redistributed. A FIXED iteration
    count (not convergence-tested) keeps the result bit-replayable by the
    SQL oracle — the same three join+agg rounds in chained CTEs.

    Bit-replayability is engineered, not assumed: each contribution is
    quantized to integer femto-units (``floor(pr/deg * 1e15 + 0.5)::long``)
    BEFORE the inflow sum, so the per-node aggregation is an exact,
    order-independent integer sum — a differently-ordered DOUBLE sum could
    drift by an ulp between Spark's shuffle order and the oracle's and flip
    the final nano rounding. The 1e-15 quantization grid sits six orders
    below the 1e-9 output grid (inflow error ≤ indeg·5e-16), and every
    remaining float op (divide, damping multiply-add) is a single IEEE
    operation on identical inputs in both engines.

    Output: (node, pr_nano) — rank scaled to integer nano-units via
    floor(pr*1e9 + 0.5), the engine-portable rounding used throughout this
    repo (IEEE floor/division are bit-exact where round()'s ties are not).
    """
    # Iterative algorithms MUST pin their loop-invariant inputs: without the
    # persists below, every iteration re-executes the upstream edge
    # derivation (often an expensive join+distinct), and the final action
    # replays the whole chain once more per reference (the persisted blocks
    # are computed once inside the single final job and read from cache by
    # every later stage that references them).
    #
    # r14 (guide §1.2/§2.4): the per-iteration EAGER localCheckpoint is now a
    # CADENCE (``checkpoint_every``) — for the registered 3-iteration runs the
    # whole rank recursion folds into ONE lazy plan executed by ONE job,
    # instead of one materialization job per iteration. The driver-side
    # ``nodes.count()`` is KEPT deliberately: it is the action that populates
    # the e/outdeg/nodes caches before the folded plan runs — measured r14,
    # folding WITHOUT it made the auto-broadcast subqueries of the unrolled
    # iterations race to compute the un-cached edge derivation concurrently
    # (7 s → 30-50 s per call). A deep n_iter still gets periodic cuts so
    # unrolled plans can't stack unboundedly; the final eager cut both
    # truncates lineage for the caller and makes the unpersists below safe.
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).persist()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    if every_node_has_out_edges:
        # symmetric / undirected-style edge lists (both directions present):
        # the source-key set IS the node set, so reuse outdeg's shuffle
        # instead of paying a second full-edge distinct
        nodes = outdeg.select(F.col("src").alias("node"))
    else:
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .persist()
        )
    n = nodes.count()
    pr = nodes.select("node", F.lit(1.0 / n).alias("pr"))
    base = (1.0 - damping) / n
    for it in range(n_iter):
        # rank/outdeg emission rates: a node-count-sized join (tiny next to
        # the edge list). Joining the big edge list against this SMALL side
        # lets AQE broadcast it — the edges themselves are never re-keyed
        # or widened, which beats pinning a (src, dst, deg) copy of the
        # whole edge list.
        rate = (
            pr.withColumnRenamed("node", "src")
            .join(outdeg, "src")
            .select(
                "src",
                F.floor(
                    (F.col("pr") / F.col("deg")) * F.lit(1e15) + F.lit(0.5)
                )
                .cast("long")
                .alias("c_femto"),
            )
        )
        contrib = (
            e.join(rate, "src")
            .select(F.col("dst").alias("node"), "c_femto")
            .groupBy("node")
            .agg(F.sum("c_femto").alias("inflow_femto"))
        )
        pr = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inflow_femto"), F.lit(0)).cast("double")
                        / F.lit(1e15)
                    )
                ).alias("pr"),
            )
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0 and it + 1 < n_iter:
            pr = cut(pr)
    # one eager cut at the end: materializes the whole folded recursion in a
    # single job and detaches the result from the persisted inputs so the
    # unpersists below cannot force recomputation for the caller's action
    pr = cut(pr)
    out = pr.select(
        "node", F.floor(F.col("pr") * F.lit(1e9) + F.lit(0.5)).cast("long").alias("pr_nano")
    )
    e.unpersist()
    outdeg.unpersist()
    if not every_node_has_out_edges:
        nodes.unpersist()
    return out


def triangle_count(edges: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Exact triangle count over an undirected edge list via DEGREE
    ORDERING (Suri & Vassilvitskii's MR algorithm): orient every edge
    from its lower-(degree, id) endpoint to the higher, build wedges by
    joining oriented edges on the middle vertex, close them against the
    oriented edge set. Each triangle is counted exactly once, and — the
    scale point — wedge fan-out is bounded by ORIENTED out-degree, which
    degree-ordering caps at O(√E) even when a hub's raw degree is
    millions: the join never explodes on celebrity nodes.

    Input edges may contain duplicates/self-loops/either orientation;
    they are canonicalized first. Returns one row
    (n_nodes, n_edges, n_triangles). The SQL oracle counts the SAME
    triangles with the naive a<b<c three-way join — two different
    algorithms agreeing is the check.
    """
    # three downstream actions (edge/node/triangle counts) plus the
    # two-sided wedge join would otherwise recompute the (possibly
    # expensive) edge derivation 4×; the canonical edge set is the
    # bounded thing worth pinning
    e = cut(
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("x"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    deg = (
        e.select(F.col("x").alias("n")).unionAll(e.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dx = deg.select(F.col("n").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("n").alias("y"), F.col("d").alias("dy"))
    keyed = e.join(dx, "x").join(dy, "y")
    fwd = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    oriented = keyed.select(
        F.when(fwd, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(fwd, F.col("y")).otherwise(F.col("x")).alias("v"),
    )
    # wedges = pairs of ORIENTED out-neighbors of the same pivot u; the
    # pair set per pivot is outdeg_o(u)², which degree-ordering bounds at
    # O(E) total (outdeg_o ≤ O(√E)) regardless of raw hub degree
    w1 = oriented.select("u", F.col("v").alias("va"))
    w2 = oriented.select("u", F.col("v").alias("vb"))
    wedges = (
        w1.join(w2, "u")
        .filter(F.col("va") < F.col("vb"))  # unordered pair, canonical id order
        .select(F.col("va").alias("x"), F.col("vb").alias("y"))
    )
    # closure against the canonical undirected edge set (also x < y)
    tri = wedges.join(e, ["x", "y"])
    # r14 (guide §1.2): the three counts used to be three separate driver
    # actions stitched into a literal DataFrame; they are now three count
    # aggregates cross-joined into ONE lazy single-row plan, so the caller's
    # action computes all of them in a single job (the checkpointed edge set
    # is the shared input of all three subtrees). Same row, same schema.
    return (
        deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .crossJoin(e.agg(F.count(F.lit(1)).cast("long").alias("n_edges")))
        .crossJoin(tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))
    )
