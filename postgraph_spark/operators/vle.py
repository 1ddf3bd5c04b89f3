"""Variable-length edge traversal (Cypher ``-[*lo..hi]->``).

Reference semantics (src/backend/utils/path_finding/dfs.c:48-663 +
global_graph.c): enumerate every path between pattern endpoints whose
edges are pairwise distinct (relationship isomorphism), honoring hop
bounds, direction, edge label, and property constraints; emit one result
per path. Default lo=1 (cypher_gram.y:4297-4330); ``*0..`` includes
zero-length paths; unbounded hi terminates only via edge-uniqueness.

Spark re-design: the reference loads the whole graph into per-backend
hashtables and runs a recursive DFS — single-process, memory-bound at
|V|+|E|. Here the frontier is a DataFrame ``(start_id, end_id, edge_ids,
hop)`` expanded one hop per iteration by an equi-join against the edge
table; path-level edge uniqueness is ``!array_contains(edge_ids, id)``.
Each iteration localCheckpoints to break lineage (driver-side loop, but
all data stays distributed — this scales to graphs that do not fit on
one machine, unlike the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from postgraph_spark.graph import Graph


def _directed_edges(graph: Graph, direction: str, label: str | None) -> DataFrame:
    """Edge table oriented for traversal: (src, dst, eid).

    'out': follow start->end; 'in': end->start; 'both': union of both
    orientations (an undirected step may use any edge either way —
    make_directed_edge_join_conditions, cypher_clause.c:3029-3060).
    """
    e = graph.edges_with_label(label)
    out_e = e.select(F.col("start_id").alias("src"), F.col("end_id").alias("dst"), F.col("id").alias("eid"))
    in_e = e.select(F.col("end_id").alias("src"), F.col("start_id").alias("dst"), F.col("id").alias("eid"))
    if direction == "out":
        return out_e
    if direction == "in":
        return in_e
    # Undirected: an edge may be walked either way, but a self-loop's two
    # orientations are the SAME (src, dst, eid) row — keep it once, or every
    # path through it is counted 2^k times (reference DFS considers each
    # incident edge once: dfs.c:382-477). The distinct ALSO collapses
    # genuinely duplicated edge rows (the synthetic lineitem carries
    # duplicate (orderkey, linenumber) pairs, so identical contains-edge
    # rows exist in real data — round-11 verified dropping it changes
    # graph_vle_deep's path counts).
    return out_e.unionByName(in_e).distinct()


def vle(
    graph: Graph,
    lo: int = 1,
    hi: int | None = None,
    direction: str = "out",
    edge_label: str | None = None,
    edge_prop_filter: F.Column | None = None,
    start_ids: DataFrame | None = None,
    max_hops_cap: int = 64,
    reachability: bool = False,
) -> DataFrame:
    """All variable-length paths: (start_id, end_id, edge_ids, hops).

    start_ids: optional single-column ``id`` DataFrame restricting path
    origins (pushes the pattern's start-vertex constraint into the
    traversal instead of expanding from every vertex).
    edge_prop_filter: Column predicate over the edge table's columns
    (applied before orientation), e.g. property containment.

    reachability: BFS mode for EXISTS-style consumers that only need the
    DISTINCT (start, end) pairs, never per-path rows. The frontier is
    deduplicated against a visited set each hop, so state is bounded by
    |pairs| <= |V|^2 instead of the (worst-case exponential) path count,
    and an unbounded ``*`` terminates at the graph diameter rather than
    a hop cap. Sound for lo <= 1: a shortest walk repeats no edge, so
    min-dist(s,t) <= hi iff an edge-distinct path of length in [lo, hi]
    exists (for lo > 1 that equivalence breaks; callers must fall back
    to path mode). edge_ids/node_ids come back EMPTY — a reachability
    row represents a pair, not a path.
    """
    if reachability and lo > 1:
        raise ValueError("reachability mode requires lo <= 1")
    edges = graph.edges_with_label(edge_label)
    if edge_prop_filter is not None:
        edges = edges.filter(edge_prop_filter)
    tmp = Graph(graph.name, graph.vertices, edges, graph.label_ids)
    # 'out'/'in' orientations are pure projections of the (typically
    # cached) edge table — re-deriving per hop is free, and a second
    # in-memory copy (the old unconditional .cache()) only cost memory
    # plus silent cross-run plan-cache reuse. 'both' carries a real
    # distinct shuffle, so it gets a LAZY per-invocation lineage cut:
    # the first action materializes the distinct once and every hop of
    # that invocation reads the materialized set (eager would re-pay the
    # full distinct at every plan BUILD; lazy keeps construction free).
    oriented = _directed_edges(tmp, direction, None)
    if direction == "both":
        # the undirected orientation carries a real distinct shuffle —
        # cache it like the graph tables themselves (the union-of-
        # orientations is a derived view of "the graph exists", shared
        # across traversals exactly as the label tables are). A lazy
        # localCheckpoint was tried instead and REGRESSED: under AQE,
        # plan-to-RDD conversion materializes the distinct at every
        # plan BUILD (the _spread lesson), turning a shared one-off
        # shuffle into a per-construction one.
        oriented = oriented.cache()

    if start_ids is not None:
        seeds = start_ids.select(F.col(start_ids.columns[0]).alias("start_id")).distinct()
    else:
        seeds = (
            graph.vertices.select(F.col("id").alias("start_id"))
            .unionByName(oriented.select(F.col("src").alias("start_id")))
            .distinct()
        )

    zero = seeds.select(
        "start_id",
        F.col("start_id").alias("end_id"),
        F.array().cast("array<long>").alias("edge_ids"),
        F.array(F.col("start_id")).alias("node_ids"),
        F.lit(0).alias("hops"),
    )

    if reachability:
        return _vle_reachability(oriented, zero, lo, hi, max_hops_cap)

    results: list[DataFrame] = []
    if lo == 0:
        results.append(zero)

    frontier = zero
    hop = 0
    bound = hi if hi is not None else max_hops_cap
    # with a small KNOWN bound the whole traversal stays one lazy plan:
    # no per-hop checkpoint job, no per-hop isEmpty action — Catalyst
    # optimizes the <=4-deep join tree fine. The eager per-hop
    # checkpoint+emptiness loop is only needed for deep/unbounded
    # traversals (lineage blow-up + data-driven termination).
    lazy = hi is not None and hi <= 4
    while hop < bound:
        hop += 1
        expanded = (
            frontier.join(oriented, frontier.end_id == oriented.src)
            .filter(~F.array_contains(F.col("edge_ids"), F.col("eid")))
            .select(
                "start_id",
                F.col("dst").alias("end_id"),
                F.array_append("edge_ids", F.col("eid")).alias("edge_ids"),
                # ordered vertex chain rides along (longs only — the
                # traversal/named-path value resolves structs lazily)
                F.array_append("node_ids", F.col("dst")).alias("node_ids"),
                F.lit(hop).alias("hops"),
            )
        )
        if not lazy:
            # break lineage: each iteration's plan would otherwise nest the
            # previous join tree (exponential optimizer time by ~hop 10).
            # The repartition on the NEXT hop's join key lets AQE coalesce
            # the checkpointed partitions to the frontier's actual size (a
            # near-empty deep frontier collapses to one partition instead
            # of dragging the full shuffle width through every hop).
            expanded = expanded.repartition(F.col("end_id")).localCheckpoint(eager=True)
            if expanded.isEmpty():
                break
        if hop >= lo:
            results.append(expanded)
        frontier = expanded

    if not results:
        return zero.limit(0)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def _vle_reachability(oriented, zero, lo, hi, max_hops_cap):
    """BFS with a visited set: each (start, end) pair is emitted at its
    minimum hop count only. Frontier and visited are (start_id, end_id)
    pairs — memory is bounded by the reachable-pair count, never the
    path count (dfs.c's enumeration semantics collapse to existence)."""
    pairs = zero.select("start_id", "end_id", "hops")
    results = [pairs] if lo == 0 else []
    frontier = pairs.select("start_id", "end_id").localCheckpoint(eager=True)
    # for lo >= 1 the hop-0 self pairs are NOT pre-visited: a genuine
    # cycle back to the start must still be discovered and emitted once
    # (its re-expansion only repeats hop-1 work once, then dedups away)
    visited = frontier if lo == 0 else frontier.limit(0)
    hop = 0
    bound = hi if hi is not None else max_hops_cap
    while hop < bound:
        hop += 1
        nxt = (
            frontier.join(oriented, frontier.end_id == oriented.src)
            .select("start_id", F.col("dst").alias("end_id"))
            .distinct()
            .join(visited, ["start_id", "end_id"], "left_anti")
            .repartition(F.col("end_id"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        if hop >= lo:
            results.append(nxt.withColumn("hops", F.lit(hop)))
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    if not results:
        return zero.limit(0)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out.select(
        "start_id", "end_id",
        F.array().cast("array<long>").alias("edge_ids"),
        F.array(F.col("start_id"), F.col("end_id")).alias("node_ids"),
        "hops",
    )

