"""Graph traversal operators beyond CC.

M7 (SURVEY.md §2.7): the reference's transitive related-address expansion
(db/DbQueries.java:39-64) — BFS over addr → spending-tx → addr. Like CC,
the physical path is chosen by size: a graph within the small-graph budget
is collected once through Arrow and walked by the numpy CSR kernel
(operators/smallgraph.py); a larger one runs an iterative frontier-join
loop with visited-set pruning and a localCheckpoint per hop (same lineage
hygiene as CC).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import release
from . import closure, smallgraph


def bfs_reachable(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 10,
    src: str = "src",
    dst: str = "dst",
    undirected: bool = True,
    edges_distinct: bool = False,
    broadcast_node_limit: int = 4_000_000,
    small_graph_threshold: int = smallgraph.SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Nodes reachable from ``sources`` (column ``node``) within max_hops.

    Returns (node, hops) with the minimal hop count; every source is
    returned at hop 0, also one that is on no edge.

    Small path: with at most ``small_graph_threshold`` deduplicated edges
    (and at most as many source rows), the edges and the sources are each
    collected in one bounded Arrow job and the walk runs in numpy
    (:func:`.smallgraph.bfs`); nothing is cached or checkpointed.
    ``small_graph_threshold=0`` forces the distributed loop below.

    Distributed loop: the edge list is undirected + deduplicated once and
    checkpointed; each hop joins it against the frontier and anti-joins
    the visited set — both checkpointed so plans stay flat. Each
    superseded checkpoint, and the edge checkpoint at the end, is freed
    with :func:`~..session.release`; the one persisted RDD left is the
    returned ``visited`` frame's.

    r6 join strategy (guide §3.1): the frontier and visited sets have
    EXACT known counts (each hop counts them anyway), so while they stay
    under ``broadcast_node_limit`` rows they are broadcast explicitly and
    the (big) edge list is never shuffled — at sf1.0 each hop previously
    sort-merge-shuffled the 9M-row edge list against a ≤169k-row
    frontier. Past the limit the hint is dropped and AQE picks the
    strategy.

    ``edges_distinct=True`` asserts the caller's edge list is already
    deduplicated (e.g. :func:`~..operators.cc.pair_edges_from_groups`
    output): the union of the two orientations of a distinct self-loop-
    free edge list is itself distinct, so the prep pass skips one full
    shuffle of the edge list.
    """
    if small_graph_threshold:
        out = _small_bfs(
            edges, sources, max_hops, src, dst, undirected, edges_distinct, small_graph_threshold
        )
        if out is not None:
            return out

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if undirected:
        e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    if not edges_distinct:
        e = e.distinct()
    e = e.localCheckpoint(eager=True)

    def _maybe_broadcast(df: DataFrame, n: int) -> DataFrame:
        return F.broadcast(df) if n <= broadcast_node_limit else df

    visited = sources.select(F.col("node"), F.lit(0).alias("hops")).distinct()
    visited = visited.localCheckpoint(eager=True)
    n_visited = visited.count()
    frontier, n_frontier = visited, n_visited

    for hop in range(1, max_hops + 1):
        nxt = (
            e.join(_maybe_broadcast(frontier, n_frontier), e.a == frontier.node)
            .select(F.col("b").alias("node"))
            .distinct()
            .join(_maybe_broadcast(visited.select("node"), n_visited), "node", "left_anti")
            .withColumn("hops", F.lit(hop))
        )
        nxt = nxt.localCheckpoint(eager=True)
        n_frontier = nxt.count()
        if n_frontier == 0:
            release(nxt)
            break
        grown = visited.unionByName(nxt).localCheckpoint(eager=True)
        # each superseded checkpoint is dead once its successor exists
        if frontier is not visited:
            release(frontier)
        release(visited)
        visited, frontier = grown, nxt
        n_visited += n_frontier

    if frontier is not visited:
        release(frontier)
    release(e)
    return visited


def _small_bfs(edges, sources, max_hops, src, dst, undirected, edges_distinct, cap):
    """The kernel path of :func:`bfs_reachable`, or None over ``cap``."""
    g = smallgraph.collect_edges(edges, src, dst, cap, edges_distinct, undirected)
    if g is None:
        return None
    srcs = closure.collect_bounded(sources.select(F.col("node").cast("long")), cap)
    if srcs is None:
        return None
    srcs = pc.unique(srcs.column(0))  # in Arrow: no shuffle job for a distinct
    nodes, a, b = g
    ids = srcs.drop_null().to_numpy()
    pos = np.searchsorted(nodes, ids)
    on_graph = pos < len(nodes)
    on_graph[on_graph] = nodes[pos[on_graph]] == ids[on_graph]
    dist = smallgraph.bfs(len(nodes), a, b, pos[on_graph], max_hops, undirected)
    # sources (null included) at hop 0, then every node first reached later
    hit = dist > 0
    node = pa.concat_arrays([srcs, pa.array(nodes[hit])])
    hops = np.concatenate([np.zeros(len(srcs), np.int32), dist[hit].astype(np.int32)])
    return edges.sparkSession.createDataFrame(pa.table({"node": node, "hops": hops}))
