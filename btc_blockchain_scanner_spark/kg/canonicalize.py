"""Canonicalization: connected components over the entity-similarity graph.

Reference analog M2 (SURVEY.md §2.7, §3.2): RunUpdateWallets2's union-find
where co-spent addresses collapse into one wallet id. Here entities that are
*alias-linked* (same resolved key family) or *strongly co-mentioned* merge
into one canonical id.

Edge sources:
1. alias edges — surfaces resolving to the same entity_key already share an
   entity_id (handled in linking), so the interesting alias edges are
   fuzzy-match families: (entity of surface) — (entity of matched key);
2. co-mention edges — entities appearing in the same turn, chained per turn
   (operators.cc.pair_edges_from_groups: linear, hub-safe).

The component label is the MINIMUM entity_id in the component — exactly the
reference's merge-into-min-wallet-id rule (RunUpdateWallets2.java:194-199).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.cc import connected_components, pair_edges_from_groups


def comention_edges(linked_mentions: DataFrame) -> DataFrame:
    """(src, dst) entity-id edges from per-turn co-mention groups."""
    incid = linked_mentions.select(
        F.concat_ws("#", F.col("conv_id"), F.col("turn_idx")).alias("turn_key"),
        F.col("entity_id").cast("long").alias("member"),
    )
    return pair_edges_from_groups(incid, "turn_key", "member")


def canon_map(entities: DataFrame, edges: DataFrame) -> DataFrame:
    """(entity_id, canon_id): component-min label for connected entities,
    self for singletons. Deterministic at any parallelism.

    Contract: ``edges`` is deduplicated with src < dst (what
    :func:`comention_edges` emits — star edges from the group min), so CC
    skips its undirect-distinct shuffle. A caller violating it only loses
    that optimization: duplicate undirected edges are harmless to both CC
    paths (the numpy kernel and the min-label loop are idempotent)."""
    comp = connected_components(edges, "src", "dst", edges_distinct=True)
    return (
        entities.select(F.col("entity_id"))
        .join(comp, entities.entity_id == comp.node, "left")
        .select(
            "entity_id",
            F.coalesce(F.col("component"), F.col("entity_id").cast("long"))
            .cast("int")
            .alias("canon_id"),
        )
    )


def incremental_canon_update(canon: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Merge a NEW batch of similarity edges into an existing canon map
    WITHOUT recomputing components over the full edge history — the
    reference's incremental union-find semantics (RunUpdateWallets2.java
    :186-230: per-batch, existing wallet ids act as parent pointers and
    merges are bulk relabels `UPDATE ... SET wallet_id=min WHERE
    wallet_id=other`).

    Spark-first shape: contract every known component to its canon id
    (each endpoint of a new edge maps through the current canon map;
    unseen entities map to themselves), run connected components over the
    CONTRACTED new edges only — a graph bounded by the batch size, not
    the corpus — then one broadcast relabel join rewrites affected rows.
    Because every canon id IS the minimum entity id of its component, the
    min label over merged contracted nodes equals the global minimum, so
    the result is IDENTICAL to a full recompute over the edge union
    (property-tested in tests/test_cc.py), at per-batch cost: at 10^12
    turns the full mention-graph CC is a once-per-epoch job, while this
    runs per ingest batch.

    ``canon``: (entity_id, canon_id) as produced by :func:`canon_map`.
    ``new_edges``: (src, dst) entity-id pairs; ids absent from ``canon``
    are treated as newly discovered singletons and appear in the output.
    """
    m = canon.select(
        F.col("entity_id").cast("long").alias("_n"), F.col("canon_id").cast("long").alias("_c")
    )
    e = new_edges.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))
    contracted = (
        e.join(m.withColumnRenamed("_n", "src").withColumnRenamed("_c", "_cs"), "src", "left")
        .join(m.withColumnRenamed("_n", "dst").withColumnRenamed("_c", "_cd"), "dst", "left")
        .select(
            F.coalesce("_cs", F.col("src")).alias("src"),
            F.coalesce("_cd", F.col("dst")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    merged = connected_components(contracted, "src", "dst")
    relabel = merged.select(F.col("node").alias("_old"), F.col("component").alias("_new"))
    # bulk relabel (the replaceWallet UPDATE analog): rows whose component
    # was merged move to the new minimum; everything else is untouched
    updated = (
        canon.join(relabel, canon.canon_id.cast("long") == F.col("_old"), "left")
        .select(
            "entity_id",
            F.coalesce(F.col("_new"), F.col("canon_id").cast("long")).cast("int").alias("canon_id"),
        )
    )
    new_nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(m.select(F.col("_n").alias("node")), "node", "left_anti")
    )
    new_rows = (
        new_nodes.join(relabel, new_nodes.node == F.col("_old"), "left")
        .select(
            F.col("node").cast("int").alias("entity_id"),
            F.coalesce(F.col("_new"), F.col("node")).cast("int").alias("canon_id"),
        )
    )
    return updated.unionByName(new_rows)


def verify_fixpoint(canon: DataFrame, edges: DataFrame) -> int:
    """Invariant check (FIXTURES.md §5.2, reference analog "no tx spans two
    wallets", RunUpdateWallets2.java:167): returns the number of edges whose
    endpoints carry different canon ids — must be 0 at fixpoint."""
    c = canon.select(F.col("entity_id").cast("long").alias("node"), "canon_id")
    return (
        edges.join(c.withColumnRenamed("node", "src").withColumnRenamed("canon_id", "ca"), "src")
        .join(c.withColumnRenamed("node", "dst").withColumnRenamed("canon_id", "cb"), "dst")
        .where(F.col("ca") != F.col("cb"))
        .count()
    )
