"""Tag / annotation side tables (the reference's optional tags schema).

Reference analog: create-db-structure-tags.sql — a ``tag(tag_id, name)``
dimension plus many-to-many link tables (``wallet_tag``,
``transaction_tag``, ...) keyed by (object_id, tag_id), loaded from
external curated lists and joined onto objects at read time. Same shape
here: a deterministic tag dimension, an ``entity_tag`` link table, and a
read-side join that decorates nodes with a (possibly empty) tag array —
objects without tags pay nothing, exactly like the sparse-flags table
(extract.mention_flags_from_extracted).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.rank import md5_rank


def tag_dim(spark: SparkSession, names: list[str]) -> DataFrame:
    """tag(tag_id int, name string) — ids are rank-of-md5(name), so the
    dimension is deterministic at any parallelism and stable under
    re-load (the reference ships tag ids in its curated CSV; we derive
    them from the names instead of trusting load order)."""
    names = pa.array(sorted(set(names)), pa.string())
    return spark.createDataFrame(
        pa.table({"tag_id": md5_rank(names).cast(pa.int32()), "name": names})
    )


def tag_entities(entities: DataFrame, rules: DataFrame, tags: DataFrame) -> DataFrame:
    """entity_tag(entity_id, tag_id) from a curated (display_name, tag
    name) rules table — the wallet_tag load analog. Rules and tags are
    small curated dims (broadcast); output is deduplicated on the full
    key, so re-loading is MERGE-safe/idempotent."""
    return (
        entities.join(F.broadcast(rules), "display_name")
        .join(F.broadcast(tags), "name")
        .select("entity_id", "tag_id")
        .dropDuplicates(["entity_id", "tag_id"])
    )


def tagged_nodes(nodes: DataFrame, entity_tag: DataFrame, tags: DataFrame) -> DataFrame:
    """Read-side join-back: nodes + sorted tag-name array (empty array
    default — F8 coalesce shape, as readers of the mention flags use)."""
    per_node = (
        entity_tag.join(F.broadcast(tags), "tag_id")
        .groupBy(F.col("entity_id").cast("long").alias("node_id"))
        .agg(F.array_sort(F.collect_set("name")).alias("tags"))
    )
    return nodes.join(per_node, "node_id", "left").withColumn(
        "tags", F.coalesce(F.col("tags"), F.array().cast("array<string>"))
    )
