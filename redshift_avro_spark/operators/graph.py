"""Iterative graph algorithms — PageRank, triangle counting, BFS.

Together with the min-label-propagation connected components in
:mod:`.dedup` (q63), this module covers the four shapes every
distributed graph engine must handle: fixpoint label flooding
(components), fixed-round value propagation (:func:`pagerank`),
wedge closure (:func:`triangle_count`) and frontier expansion
(:func:`bfs_distances`). The reference delegates all post-decode
processing to Redshift SQL (README.md:13-17); recursive SQL can't
express damping or bounded frontiers, so these are genuinely
Spark-side operators.

Determinism contract: ranks are BIGINT fixed-point (total mass 10¹²,
damping 85/100) and every division is integral (`div`), so the result
is bit-identical regardless of partitioning, accumulation order or
engine — which is what lets a DuckDB oracle replay the iterations as
unrolled CTEs (q102) and hash-match.

100 TB story: each iteration is one equi-join of the edge list with
the current rank vector (shuffle on the uniform node key) plus one
aggregation on dst — O(E) per round, no driver-side state beyond the
loop counter. Lineage is cut per round through
:func:`..operators.staging.materialize` (checkpoint default — the q63
pattern; env-flippable to parquet where O(E) staging must live on
disk) so the plan stays flat at any iteration count, and each
superseded round is released. A power-law hub is ordinary key skew:
AQE skew-join handles the join side, and the dst aggregation map-side
combines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .staging import materialize, release

TOTAL_MASS = 1_000_000_000_000  # 10^12 fixed-point units across all nodes


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
) -> DataFrame:
    """Fixed-round PageRank over a directed edge list.

    Returns one row per node — ``(node, outdeg, rank_fp)`` — where
    ``rank_fp`` is the BIGINT fixed-point rank after ``iterations``
    rounds of ``r'(v) = (15·M) div (100·N) + Σ_{u→v} (85·r(u)) div
    (100·outdeg(u))`` with M = 10¹² total mass.

    Nodes are the union of both endpoint columns. A dangling node
    (no out-edges) keeps receiving the base mass but contributes
    nothing — the standard sink simplification; pre-symmetrize the
    edge list (add reverse edges) if mass conservation matters, as
    q102 does.
    """
    if iterations < 0:
        raise ValueError(f"pagerank: iterations must be >= 0, got {iterations}")
    missing = [c for c in (src, dst) if c not in edges.columns]
    if missing:
        raise ValueError(f"pagerank: edge columns {missing} not in edges")

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # explode instead of a two-branch union (one evaluation of the
    # caller's edge subplan, same node multiset)
    nodes = (
        e.select(F.explode(F.array("src", "dst")).alias("node")).distinct()
    )
    outdeg = e.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    # edge list annotated with the source's out-degree, computed once
    # and reused every round. The O(E) frames default to checkpoint;
    # SPARK_GRAFT_MATERIALIZE[_<LABEL>]=parquet moves them to disk (a
    # 100x trade-graph sweep OOMed a 32g single-JVM session on
    # executor-storage blocks).
    ew = materialize(e.join(outdeg, "src"), label="pagerank_ew", default="checkpoint")
    # nodes is loop-INVARIANT: cut it BEFORE n_df/ranks so every
    # round's left join and the n_nodes broadcast read the staged frame
    # instead of replaying the edge-scan + distinct subplan
    nodes = materialize(nodes, label="pagerank_nodes", default="checkpoint")
    n_df = F.broadcast(nodes.agg(F.count("*").cast("long").alias("n_nodes")))

    base = F.expr(f"({15 * TOTAL_MASS} div (100 * n_nodes))")
    ranks = materialize(
        nodes.crossJoin(n_df).select(
            "node", F.expr(f"({TOTAL_MASS} div n_nodes)").cast("long").alias("rank_fp")
        ),
        label="pagerank_ranks",
        default="checkpoint",
    )
    for _ in range(iterations):
        inc = (
            ew.join(ranks, ew.src == ranks.node)
            .select("dst", F.expr("(85 * rank_fp) div (100 * outdeg)").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("inc"))
            .withColumnRenamed("dst", "node")
        )
        new_ranks = materialize(
            nodes.join(inc, "node", "left")
            .crossJoin(n_df)
            .select(
                "node",
                (base + F.coalesce(F.col("inc"), F.lit(0))).cast("long").alias("rank_fp"),
            ),
            label="pagerank_ranks",
            default="checkpoint",
        )
        release(ranks)
        ranks = new_ranks
    return (
        ranks.join(outdeg, ranks.node == outdeg.src, "left")
        .select("node", F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"), "rank_fp")
    )


def triangle_count(
    edges: DataFrame, *, src: str = "src", dst: str = "dst", top_k: int = 50
) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation —
    the third canonical graph shape next to label flooding (connected
    components) and value propagation (PageRank): triangle density
    drives clustering-coefficient features and community detection
    over similarity/co-occurrence graphs.

    ``edges`` holds each undirected edge ONCE (src < dst or any
    convention; duplicates are the caller's bug). The classic
    hub-taming trick makes the wedge join tractable: orient every
    edge from the endpoint with the lower (degree, id) total-order
    key to the higher, so a node's OUT-degree is bounded even for
    hubs (a node of degree d has out-degree ≤ ~√(2·E) after
    orientation), wedges pair out-edges of the same source, and a
    triangle closes iff the oriented edge (b, c) exists — an
    EQUI-join, because the wedge is emitted with b before c in the
    same total order that oriented the edges.

    Returns the ``top_k`` nodes by (n_triangles DESC, node) with
    their degree — a bounded result with a unique sort key.

    Scale: degree = one agg on the uniform node key; orientation a
    broadcast-free join edge⋈degree (node key); the wedge self-join
    shuffles on the oriented source; closure is one equi-join on the
    (b, c) pair. All keys uniform post-orientation."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # explode instead of a two-branch union: one evaluation of the
    # caller's edge subplan (q119's is a distinct over a self-join)
    # instead of one per branch, same (node) multiset
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    # (deg, node) as a STRUCT compared lexicographically — not an
    # arithmetic packing, which silently mis-orients (and miscounts)
    # for ids >= 2^32, negative, or non-integral node ids
    ork = deg.select("node", F.struct("deg", "node").alias("ord"), "deg")
    oriented = (
        e.join(ork.select(F.col("node").alias("u"), F.col("ord").alias("ord_u")), "u")
        .join(ork.select(F.col("node").alias("v"), F.col("ord").alias("ord_v")), "v")
        .select(
            F.expr("CASE WHEN ord_u < ord_v THEN u ELSE v END").alias("s"),
            F.expr("CASE WHEN ord_u < ord_v THEN v ELSE u END").alias("t"),
            F.expr("CASE WHEN ord_u < ord_v THEN ord_v ELSE ord_u END").alias("t_ord"),
        )
        # consumed three times (both wedge sides + closure probe):
        # materialize once, O(E) rows, instead of replaying the
        # edge⋈degree chain per consumer (routed through materialize
        # since round 11 — see pagerank's comment; default unchanged)
    )
    oriented = materialize(
        oriented, label="triangle_oriented", default="checkpoint"
    )
    e1 = oriented.select(F.col("s"), F.col("t").alias("b"), F.col("t_ord").alias("b_ord"))
    e2 = oriented.select(F.col("s"), F.col("t").alias("c"), F.col("t_ord").alias("c_ord"))
    wedges = (
        e1.join(e2, "s")
        .where(F.col("b_ord") < F.col("c_ord"))
        .select(F.col("s").alias("a"), "b", "c")
    )
    closing = oriented.select(F.col("s").alias("b"), F.col("t").alias("c"))
    tri = wedges.join(closing, ["b", "c"])
    # explode instead of a three-branch union: the union form evaluated
    # the wedge join — the operator's dominant cost — once per branch
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return (
        per_node.join(deg, "node")
        .orderBy(F.desc("n_triangles"), F.asc("node"))
        .limit(top_k)
        .select("node", "deg", "n_triangles")
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
) -> DataFrame:
    """Bounded-hop BFS distances from a seed set over an undirected
    edge list (edges are expanded to both directions internally) —
    the fourth canonical distributed-graph shape next to components
    (fixpoint flooding), PageRank (value propagation) and triangles
    (wedge closure): frontier expansion with monotone first-visit
    semantics.

    ``seeds`` has one column ``node``. Returns (node, dist) for every
    node within ``max_hops`` (dist 0 = seed). Each hop is one
    edge⋈frontier equi-join + an anti join against the visited set —
    O(E_frontier) per hop, uniform node keys, lineage cut per hop."""
    if max_hops < 0:
        raise ValueError(f"bfs_distances: max_hops must be >= 0, got {max_hops}")
    if "node" not in seeds.columns:
        raise ValueError("bfs_distances: seeds must have a 'node' column")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    und = materialize(und, label="bfs_und", default="checkpoint")

    # One staged frame per hop: the frontier is the previous hop's rows
    # of `visited`, so each hop is a single boundary and the superseded
    # `visited` can be released as soon as the next one is staged.
    visited = materialize(
        seeds.select("node", F.lit(0).alias("dist")).distinct(),
        label="bfs_visited",
        default="checkpoint",
    )
    for hop in range(1, max_hops + 1):
        frontier = visited.where(F.col("dist") == hop - 1).select(F.col("node").alias("a"))
        nxt = (
            und.join(frontier, "a")
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).alias("dist"))
        )
        new_visited = materialize(
            visited.unionByName(nxt), label="bfs_visited", default="checkpoint"
        )
        release(visited)
        visited = new_visited
    return visited
