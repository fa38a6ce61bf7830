"""Graph materialization: deduplicated node/edge tables.

Reference analog S12/S13 + §3.3 (RunNeoLoader): nested Cypher documents →
here flat ``nodes``/``edges`` DataFrames written once, deduplicated by key
(the MERGE-safe shape). The synthetic 64-bit edge key convention
``id*100000+pos`` (RunNeoLoader.java:293-295) is kept via
functions.scalar.synth_key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import scalar


def build_nodes(entities: DataFrame, canon: DataFrame) -> DataFrame:
    """nodes(node_id, label, display_name, canon_id) — one per entity, plus
    one 'canon' node per canonical cluster (the Wallet-node analog)."""
    ent_nodes = entities.join(canon, "entity_id").select(
        F.col("entity_id").cast("long").alias("node_id"),
        F.lit("entity").alias("label"),
        F.col("display_name"),
        F.col("canon_id"),
    )
    canon_nodes = (
        canon.select("canon_id")
        .distinct()
        .select(
            (F.col("canon_id").cast("long") + F.lit(1_000_000_000)).alias("node_id"),
            F.lit("canon").alias("label"),
            F.lit(None).cast("string").alias("display_name"),
            F.col("canon_id"),
        )
    )
    return ent_nodes.unionByName(canon_nodes).dropDuplicates(["node_id"])


def build_edges(linked_triples: DataFrame) -> DataFrame:
    """edges(src, dst, rel, pos, conv_id, turn_idx) from entity-resolved
    triples, deduplicated on the full natural key (idempotent re-write)."""
    return (
        linked_triples.select(
            F.col("subj_entity").cast("long").alias("src"),
            F.col("obj_entity").cast("long").alias("dst"),
            F.col("pred").alias("rel"),
            F.col("subj_pos").alias("pos"),
            "conv_id",
            "turn_idx",
            scalar.synth_key(F.col("subj_entity"), F.col("subj_pos")).alias("edge_key"),
        )
        .dropDuplicates(["conv_id", "turn_idx", "src", "dst", "rel", "pos"])
    )

