"""Small-graph kernel: CC and BFS over one Arrow-collected edge list, in numpy.

The reference resolves wallets with a union-find held in memory on one box
(RunUpdateWallets2.java:151-263) and walks related addresses with a BFS
(db/DbQueries.java:39-64). Most graphs this engine meets are that small
(entity graphs are bounded by the distinct-entity count), and for them a
distributed loop is pure fixed cost: several jobs and checkpoints per
round. So the operators pick the physical path by size:

* :func:`collect_edges` — ONE bounded Arrow collect
  (:func:`.closure.collect_bounded`) of the edge list, node ids compacted
  to ``0..n-1`` by a vectorized sort (``np.unique``), not a Python dict;
  None when the graph is over the cap;
* :func:`components` — min-label hooking plus pointer jumping;
* :func:`bfs` — CSR adjacency and vectorized frontier expansion.

The cap defaults to :data:`SMALL_GRAPH_EDGES`, the driver budget of
operators/closure.py counted in edges. Over the cap,
``cc.connected_components`` and ``graph.bfs_reachable`` run their
distributed loops; parity tests pin both paths to each other.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import closure

# Default edge cap of the small path, shared by CC and BFS: the closure
# budget in deduplicated undirected edges (two int64 ends each).
SMALL_GRAPH_EDGES = closure.BUDGET_BYTES // 16


def collect_edges(
    edges: DataFrame,
    src: str,
    dst: str,
    cap: int,
    edges_distinct: bool = False,
    undirected: bool = True,
):
    """``(nodes, a, b)``: the sorted node ids and each edge's endpoints as
    indices into them, or None when the graph has more than ``cap`` edges.

    Undirected edges are collected once as canonical ``(least, greatest)``
    pairs, so ``cap`` counts undirected edges. Self-loops are dropped.
    ``edges_distinct=True`` asserts the input holds no duplicate pair and
    skips the distinct shuffle; duplicates would only cost budget."""
    a, b = F.col(src), F.col(dst)
    if undirected:
        a, b = F.least(a, b), F.greatest(a, b)
    e = edges.select(a.cast("long").alias("a"), b.cast("long").alias("b")).where(
        F.col("a") != F.col("b")
    )
    if not edges_distinct:
        e = e.distinct()
    t = closure.collect_bounded(e, cap)
    if t is None:
        return None
    ends = np.concatenate([t.column("a").to_numpy(), t.column("b").to_numpy()])
    nodes, idx = np.unique(ends, return_inverse=True)
    return nodes, idx[: t.num_rows], idx[t.num_rows :]


def components(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per node index, the smallest node index of its component.

    Every label is a node index no larger than its node, in the same
    component. Each pass hooks the larger label of every edge whose two
    labels differ onto the smaller (so some label strictly falls), then
    pointer-jumps until every label points at a root (``lab[lab] == lab``).
    At the fixpoint no edge crosses two labels, and a component's minimum
    node, which can only label itself, labels all of it."""
    lab = np.arange(n, dtype=np.int64)
    while True:
        la, lb = lab[a], lab[b]
        cross = la != lb
        if not cross.any():
            return lab
        la, lb = la[cross], lb[cross]
        np.minimum.at(lab, np.maximum(la, lb), np.minimum(la, lb))
        while True:
            up = lab[lab]
            if np.array_equal(up, lab):
                break
            lab = up


def bfs(
    n: int, a: np.ndarray, b: np.ndarray, sources: np.ndarray, max_hops: int, undirected: bool = True
) -> np.ndarray:
    """Minimal hop count per node index from the ``sources`` indices
    (-1 where unreached within ``max_hops``)."""
    s, d = (np.concatenate([a, b]), np.concatenate([b, a])) if undirected else (a, b)
    adj = d[np.argsort(s, kind="stable")]
    indptr = np.concatenate([[0], np.cumsum(np.bincount(s, minlength=n))])
    dist = np.full(n, -1, dtype=np.int64)
    frontier = np.unique(sources)
    dist[frontier] = 0
    for hop in range(1, max_hops + 1):
        starts, lens = indptr[frontier], indptr[frontier + 1] - indptr[frontier]
        total = int(lens.sum())
        if total == 0:
            break
        # the concatenated neighbour ranges [starts[i], starts[i] + lens[i])
        first = np.cumsum(lens) - lens
        nbrs = adj[np.repeat(starts - first, lens) + np.arange(total)]
        frontier = np.unique(nbrs[dist[nbrs] < 0])
        dist[frontier] = hop
    return dist
