"""Entity linking: mention surface → entity id (get-or-create).

Reference analog M1 (SURVEY.md §2.7): DbCachedAddressOne.getOrAdd
(:91-115) — hash lookup, on miss assign next id from an in-memory counter.
Spark-first re-expression:

* resolution: broadcast alias dictionary join (exact), then MinHash/LSH
  blocking + Jaccard over char-3-gram shingles for unmatched surfaces
  (north_star fuzzy path), else the surface becomes its own new entity key;
* id assignment: deterministic — new keys get rank-of-md5(key) + stored
  max-id watermark, computed via the bucketed two-phase rank
  (operators/rank.py: 256-way md5-prefix buckets + exclusive offsets, NO
  single-partition window) which is byte-identical to
  ``dense_rank() over (order by md5(key))``.
  NEVER ``monotonically_increasing_id`` (SURVEY.md §7.3 hard part (b):
  ids must be identical at local[8] and local[32]). The watermark update
  is driver-side single-writer like the reference's ``lastAddressId``
  (DbCachedAddressOne.java:79,106).

Scale: the alias dict is a small broadcast dim (J8); the distinct-surface
set is tiny relative to mentions (groupBy first, link once, join back) —
the same reason the reference caches address lookups instead of querying
per row. Link materializes what it resolves exactly once: the resolved
surfaces and the surface → (entity_id, match_type) map are collected
through Arrow, the entities table is localCheckpointed. The map is the
broadcast side of the join back to the mentions, so the driver holds it
either way; collecting it needs no budget of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from ..operators import lsh
from .vocab import ALIASES, ENTITIES

ENTITY_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.IntegerType(), False),
        T.StructField("entity_type", T.StringType(), True),
        T.StructField("canonical_hash", T.StringType(), True),
        T.StructField("display_name", T.StringType(), True),
    ]
)


def default_alias_dict(spark: SparkSession) -> DataFrame:
    """surface → entity_key dimension (canonicals map to themselves)."""
    rows = [(e, e, 1.0) for e in ENTITIES] + [(a, e, 0.9) for a, e in ALIASES.items()]
    return spark.createDataFrame(rows, "surface string, entity_key string, weight double")


def char_shingles(col, n: int = 3):
    """Character n-gram shingles of a surface (for fuzzy blocking)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: col.substr(i, F.lit(n))))


def resolve_surfaces(
    surfaces: DataFrame,
    alias_dict: DataFrame,
    fuzzy_threshold: float = 0.35,
    num_perm: int = 16,
    num_bands: int = 8,
) -> DataFrame:
    """Distinct surfaces → (surface, entity_key, match_type), a local
    relation collected through Arrow (one collect on the fast path).

    exact: surface in alias dict. fuzzy: best Jaccard over char-3-gram
    shingles among LSH-blocked dictionary candidates, if >= threshold
    (deterministic tiebreak: higher jaccard, then lexicographic key).
    new: otherwise the surface is its own key.
    """
    spark = surfaces.sparkSession
    s = surfaces.select("surface").distinct()
    # the distinct-surface set is the broadcast side of link's join, so the
    # driver holds it anyway: collect it once through Arrow (one job) and
    # serve the fast-path test and all three branches from that copy
    exact_tbl = (
        s.join(F.broadcast(alias_dict), "surface", "left")
        .select("surface", F.col("entity_key").alias("exact_key"))
        .toArrow()
    )
    exact = spark.createDataFrame(exact_tbl)

    if exact_tbl.column("exact_key").null_count == 0:
        # common fast path: every surface hit the dictionary — skip the
        # whole LSH candidate machinery (reference analog: cache hit rate
        # ~100% after warmup, RunNeoLoader.java:211-217)
        return exact.select(
            "surface",
            F.col("exact_key").alias("entity_key"),
            F.lit("exact").alias("match_type"),
        )

    unmatched = exact.where(F.col("exact_key").isNull()).select("surface")
    dict_side = alias_dict.select(
        F.concat(F.lit("d:"), F.col("surface")).alias("_id"),
        char_shingles(F.col("surface")).alias("_sh"),
        F.col("surface").alias("d_surface"),
        F.col("entity_key"),
    )
    query_side = unmatched.select(
        F.concat(F.lit("q:"), F.col("surface")).alias("_id"),
        char_shingles(F.col("surface")).alias("_sh"),
        F.col("surface").alias("q_surface"),
    )
    both = query_side.select("_id", "_sh").unionByName(dict_side.select("_id", "_sh"))
    cand = lsh.candidate_pairs(lsh.band_buckets(both, "_id", "_sh", num_perm, num_bands))
    # keep only (query, dict) pairings in either order
    qd = cand.where(
        (F.col("id_a").startswith("q:") & F.col("id_b").startswith("d:"))
        | (F.col("id_a").startswith("d:") & F.col("id_b").startswith("q:"))
    ).select(
        F.when(F.col("id_a").startswith("q:"), F.col("id_a")).otherwise(F.col("id_b")).alias("qid"),
        F.when(F.col("id_a").startswith("d:"), F.col("id_a")).otherwise(F.col("id_b")).alias("did"),
    )
    scored = (
        qd.join(query_side.select(F.col("_id").alias("qid"), F.col("_sh").alias("q_sh"), "q_surface"), "qid")
        .join(dict_side.select(F.col("_id").alias("did"), F.col("_sh").alias("d_sh"), "entity_key"), "did")
        .select("q_surface", "entity_key", lsh.jaccard(F.col("q_sh"), F.col("d_sh")).alias("jacc"))
        .where(F.col("jacc") >= fuzzy_threshold)
    )
    w = W.partitionBy("q_surface").orderBy(F.col("jacc").desc(), F.col("entity_key").asc())
    fuzzy = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("q_surface").alias("surface"), F.col("entity_key").alias("fuzzy_key"))
    )

    # collected like ``exact`` (same rows)
    resolved = (
        exact.join(fuzzy, "surface", "left")
        .select(
            "surface",
            F.coalesce(F.col("exact_key"), F.col("fuzzy_key"), F.col("surface")).alias("entity_key"),
            F.when(F.col("exact_key").isNotNull(), "exact")
            .when(F.col("fuzzy_key").isNotNull(), "fuzzy")
            .otherwise("new")
            .alias("match_type"),
        )
        .toArrow()
    )
    return spark.createDataFrame(resolved)


def get_or_create_entities(
    spark: SparkSession, entity_keys: DataFrame, existing: DataFrame | None
) -> DataFrame:
    """M1 get-or-create: returns the updated entities table.

    New keys are anti-joined against the existing table and assigned dense
    ids ordered by md5(key) starting at watermark+1 — deterministic across
    batches and parallelism levels.
    """
    keys = entity_keys.select(F.col("entity_key")).distinct()
    if existing is None:
        existing, new, max_id = spark.createDataFrame([], ENTITY_SCHEMA), keys, 0
    else:
        new = keys.join(
            existing.select(F.col("display_name").alias("entity_key")), "entity_key", "left_anti"
        )
        max_id = existing.agg(F.coalesce(F.max("entity_id"), F.lit(0))).collect()[0][0]
    from ..operators.rank import ranked_by_md5

    new_entities = ranked_by_md5(
        new, "entity_key", "entity_id", offset=int(max_id)
    ).select(
        F.col("entity_id").cast("int").alias("entity_id"),
        F.lit("concept").alias("entity_type"),
        F.md5(F.col("entity_key")).alias("canonical_hash"),
        F.col("entity_key").alias("display_name"),
    )
    return existing.unionByName(new_entities)


def link_mentions(
    mentions: DataFrame,
    alias_dict: DataFrame,
    entities: DataFrame | None = None,
    spark: SparkSession | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """mentions(+surface) → (linked mentions with entity_id, entities table,
    surface → (entity_id, match_type) map).

    Linking happens on the distinct-surface set (tiny), then broadcast-joins
    back to the mention stream — the J8 cache-join shape. Both link outputs
    are materialized once, so no consumer re-runs resolution or the md5
    rank: the entities table is localCheckpointed here (the one persisted
    RDD link leaves; it also cuts the lineage to the state files an
    incremental merge swaps), and the map is collected once through Arrow.
    The map is the broadcast side of the join, so the driver held it
    already — it needs no budget of its own.

    The caller owns the entities checkpoint: it frees it with
    :func:`~..session.release` once nothing it returns reads it any more.
    """
    spark = spark or mentions.sparkSession
    resolved = resolve_surfaces(mentions.select("surface"), alias_dict)
    entities = get_or_create_entities(
        spark, resolved.select("entity_key"), entities
    ).localCheckpoint(eager=True)
    surface_to_id = spark.createDataFrame(
        resolved.join(
            entities.select(F.col("display_name").alias("entity_key"), "entity_id"), "entity_key"
        )
        .select("surface", "entity_id", "match_type")
        .toArrow()
    )
    linked = mentions.join(F.broadcast(surface_to_id), "surface")
    return linked, entities, surface_to_id
