"""Connected components: a numpy kernel for small graphs, a distributed
min-label loop (with pointer doubling) for the rest.

Reference analog: the incremental union-find in RunUpdateWallets2.java
:151-263 where every address row carries its wallet id and merges are bulk
relabels (``UPDATE address_x SET wallet_id=min WHERE wallet_id=other``) —
its acknowledged hot spot is hub wallets (SURVEY.md §2.7 M2, §4 skew row).

The physical path is chosen by size. A graph of at most
``small_graph_threshold`` undirected edges (default
``smallgraph.SMALL_GRAPH_EDGES``, the driver budget of
operators/closure.py in edges) is collected once through Arrow and
resolved in numpy on the driver (operators/smallgraph.py) — the
reference's one-box union-find. Every KG entity graph and every registered
query's graph takes this path. Larger graphs run the distributed loop:

* labels live in a (node, label) DataFrame; one propagation round is
  ``edges ⋈ labels → groupBy(node).min(label)`` — the min() is
  partial-aggregated map-side, so a hub node's millions of candidate labels
  collapse to one per input partition before the shuffle (the explicit
  "salting" of the aggregation is exactly this two-level combine).
* every round ALSO shortcuts ``label ← label(label)`` (pointer doubling,
  Shiloach-Vishkin style): the label of my label is at least as small and
  strictly closer to the component minimum, so label paths halve each round
  and convergence is O(log diameter) rounds — a path graph of length 2^k
  converges in ~k rounds, not 2^k.
* the edges ⋈ labels shuffle join is where hub skew lands; AQE skew-join
  (enabled in session.py) splits oversized partitions at runtime.
* every round ends in ``localCheckpoint(eager=True)`` to cut lineage
  (SURVEY.md §4 custom-work item 1) — without it the plan doubles each
  iteration — and the superseded round is released at once
  (``session.release``), so one round's labels are live at a time.
* convergence = zero labels changed in a round; if ``max_iter`` rounds pass
  without convergence we RAISE instead of returning silently-wrong labels.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import release
from . import smallgraph


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    small_graph_threshold: int = smallgraph.SMALL_GRAPH_EDGES,
    stats_out: dict | None = None,
    edges_distinct: bool = False,
) -> DataFrame:
    """Compute components over an undirected edge list of long node ids.

    Returns (node long, component long) where component is the minimum node
    id in the component (deterministic at any parallelism).

    Size-aware strategy: when the graph has at most
    ``small_graph_threshold`` deduplicated UNDIRECTED edges, one bounded
    Arrow collect of the canonical ``(least, greatest)`` pairs feeds the
    numpy kernel (:mod:`.smallgraph`), and the labels come back through
    ``createDataFrame`` from Arrow. Nothing is cached or checkpointed on
    this path. Labels are identical by construction (min node id per
    component; parity-tested). ``small_graph_threshold=0`` forces the
    distributed loop (tests and the bench's at-scale CC section do).

    ``stats_out`` (optional dict) receives run evidence: ``path``
    ("driver" for the kernel | "distributed") and, for the distributed
    loop, ``rounds``.

    Storage on the distributed loop: the undirected edge list and every
    round's labels are ``localCheckpoint(eager=True)``ed, and each
    superseded round is freed by :func:`~..session.release` the moment the
    next one is materialized, so live storage is O(nodes), never
    O(rounds x nodes). The edge checkpoint is freed before return; the one
    persisted RDD left is the final round's labels, which the returned
    frame reads.

    Raises RuntimeError if ``max_iter`` rounds pass without convergence —
    with pointer doubling that needs a component of diameter > 2^max_iter,
    i.e. it only fires on a genuine bug, never silently mislabels.
    """
    spark = edges.sparkSession
    if small_graph_threshold:
        g = smallgraph.collect_edges(
            edges, src, dst, small_graph_threshold, edges_distinct=edges_distinct
        )
        if g is not None:
            nodes, a, b = g
            if stats_out is not None:
                stats_out["path"] = "driver"
            comp = nodes[smallgraph.components(len(nodes), a, b)]
            return spark.createDataFrame(pa.table({"node": nodes, "component": comp}))

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    # Undirect + dedup once; at scale this is one shuffle we never repeat.
    # ``edges_distinct=True`` asserts the input is already deduplicated
    # with a canonical orientation (src < dst — star edges, sorted pair
    # lists): the union of the two orientations is then itself distinct
    # and the shuffle is skipped (r6; guide §2.4).
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    if not edges_distinct:
        und = und.distinct()
    und = und.localCheckpoint(eager=True)
    try:
        labels, rounds = _min_label_rounds(und, max_iter)
    finally:
        release(und)
    if stats_out is not None:
        stats_out.update(path="distributed", rounds=rounds)
    return labels.select("node", F.col("label").alias("component"))


def _min_label_rounds(und: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    """The distributed loop of :func:`connected_components` over the
    checkpointed both-orientations edge list: (the final round's
    checkpointed (node, label) frame, rounds run)."""
    # No materialized round-0 labels: the identity label map makes round 1's
    # hop computable straight from the edge list (see the fusion below), so
    # the node-set distinct (a full shuffle of the undirected list) and the
    # round-0 checkpoint are both skipped (r6; guide §2.3 "shuffle fewer
    # bytes", §2.4 "remove shuffles outright").
    labels = None
    # Convergence detection: labels are node-ids and every update is a min
    # over (self ∪ neighbors ∪ label-of-label), so per-node labels are
    # MONOTONICALLY non-increasing — sum(label) is strictly decreasing
    # until the fixpoint and equal sums ⇔ zero changes. One cheap
    # map-side-combined aggregate per round replaces the previous
    # new ⋈ old change-join (2 extra shuffles per round). No overflow:
    # sum ≤ n_nodes · max_id ≪ 2^63 for any realistic id space.
    prev_sum = None
    for rounds in range(1, max_iter + 1):
        # 1) candidate labels arriving over edges (one hop)
        if labels is None:
            # Round-1 fusion: with identity labels, min(self ∪ neighbor
            # labels) per node is ONE map-side-combined aggregate over the
            # undirected edges — min(a, min(b)) grouped by a. Every node
            # appears on the `a` side of the both-orientations list, so
            # this covers the node set exactly; round 1's edges ⋈ labels
            # shuffle join disappears along with the labels-init distinct.
            hop = (
                und.groupBy("a")
                .agg(F.least(F.col("a"), F.min("b")).alias("label"))
                .select(F.col("a").alias("node"), "label")
            )
        else:
            msgs = (
                und.join(labels, und.a == labels.node)
                .select(F.col("b").alias("node"), F.col("label"))
            )
            hop = (
                msgs.unionByName(labels.select("node", "label"))
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
        # 2) pointer doubling: label ← label(label). Every label IS a node id
        # present in the map (labels are mins over existing node ids), so the
        # lookup always hits; coalesce guards the impossible miss.
        lmap = hop.select(F.col("node").alias("_ln"), F.col("label").alias("_ll"))
        new_labels = (
            hop.join(lmap, hop.label == F.col("_ln"), "left")
            .select("node", F.coalesce(F.col("_ll"), F.col("label")).alias("label"))
            .localCheckpoint(eager=True)
        )
        # the superseded round is dead once the new one is materialized —
        # without freeing it a big graph accumulates O(rounds × nodes) dead
        # blocks in one JVM and GC-thrashes (observed at 20M edges / 22M
        # nodes before r5)
        if labels is not None:
            release(labels)
        labels = new_labels
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            return labels, rounds
        prev_sum = cur_sum
    if labels is not None:
        release(labels)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        f"(component diameter would have to exceed 2^{max_iter})"
    )


def pair_edges_from_groups(df: DataFrame, group_col: str, member_col: str) -> DataFrame:
    """Turn (group, member) incidences into member-member edges without a
    quadratic self-join: STAR edges from each group's minimum member to
    every other member.

    A star (min-m2, min-m3, ...) is connectivity-equivalent to the full
    clique but emits n-1 instead of n*(n-1)/2 edges — the reference builds
    the full co-spent pair set (tests/RunUpdateWallets.java:131-140); CC
    only needs connectivity. Unlike a sorted CHAIN (diameter n-1, which
    forces O(n) propagation rounds on a one-hop CC), the star has diameter
    2, so CC converges in ~2 rounds regardless of group size.

    Skew: the group min is ``groupBy(group).min(member)`` — partial-
    aggregated map-side, so a million-member hub group collapses to one
    row per input partition before the shuffle — joined back on the group
    key, where AQE's skew-join splits any oversized partition at runtime.
    (A running-min WINDOW over the group was used first; a window SORTS
    the whole hub group inside ONE task, which is exactly the hub-wallet
    hot spot this operator exists to avoid — VERDICT r02 item 5.)
    """
    # No input-side distinct: the final star-edge distinct dedups
    # everything anyway (duplicate (group, member) incidences collapse to
    # the same (gmin, member) edge), so a pre-distinct was a full extra
    # shuffle of the incidence list for nothing (r6; guide §2.4 "a
    # distinct on data that is already deduplicated downstream").
    d = df.select(group_col, member_col)
    gmin = d.groupBy(group_col).agg(F.min(member_col).alias("_gmin"))
    starred = d.join(gmin, group_col).where(F.col(member_col) != F.col("_gmin"))
    return starred.select(
        F.col("_gmin").alias("src"), F.col(member_col).alias("dst")
    ).distinct()
