"""Entity linking: mention surface → entity id (get-or-create).

Reference analog M1 (SURVEY.md §2.7): DbCachedAddressOne.getOrAdd
(:91-115) looks each key up in an in-memory hash map and, on a miss,
assigns the next id from an in-memory counter. Linking here runs the same
way, on the driver, over the distinct-surface set:

* resolution: the distinct surfaces are collected once, through Arrow,
  and hash-joined against the alias dictionary in pyarrow (exact). Only
  the surfaces that miss it go through Spark's MinHash/LSH blocking +
  Jaccard over char-3-gram shingles (fuzzy); a surface neither resolves
  becomes its own new entity key;
* id assignment: a new key gets the stored watermark (max entity_id) plus
  the rank of md5(key) among the new keys (operators/rank.py), which is
  byte-identical to ``dense_rank() over (order by md5(key))``. NEVER
  ``monotonically_increasing_id`` (SURVEY.md §7.3 hard part (b): ids must
  be identical at local[8] and local[32]). The watermark is driver-side
  single-writer like the reference's ``lastAddressId``
  (DbCachedAddressOne.java:79,106).

What the driver holds: the distinct surfaces, the alias dictionary, and,
when linking into an existing entities table, that table's rows whose key
the batch resolved — read in one job together with the watermark; the
rest of the table is never collected. The entity rows link creates and the
surface → (entity_id, match_type) map go back to Spark as local
relations, so nothing link returns reads the entities table it was given.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators import lsh
from ..operators.rank import md5_rank
from .vocab import ALIASES, ENTITIES

ENTITY_SCHEMA = pa.schema(
    [
        pa.field("entity_id", pa.int32(), nullable=False),
        pa.field("entity_type", pa.string()),
        pa.field("canonical_hash", pa.string()),
        pa.field("display_name", pa.string()),
    ]
)
# key → id pairs, as link reads them from a stored entities table
IDS_SCHEMA = pa.schema([("display_name", pa.string()), ("entity_id", pa.int32())])
RESOLVED_SCHEMA = pa.schema(
    [("surface", pa.string()), ("entity_key", pa.string()), ("match_type", pa.string())]
)


def default_alias_dict() -> pa.Table:
    """surface → entity_key dictionary (canonicals map to themselves)."""
    return pa.table(
        {
            "surface": list(ENTITIES) + list(ALIASES),
            "entity_key": list(ENTITIES) + list(ALIASES.values()),
        }
    )


def char_shingles(col, n: int = 3):
    """Character n-gram shingles of a surface (for fuzzy blocking)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: col.substr(i, F.lit(n))))


def _fuzzy_keys(
    spark: SparkSession,
    missed: pa.Table,
    alias_dict: pa.Table,
    threshold: float,
    num_perm: int,
    num_bands: int,
) -> pa.Table:
    """(surface, fuzzy_key) for the ``missed`` surfaces that have an
    LSH-blocked dictionary candidate with Jaccard >= ``threshold`` over
    char-3-gram shingles: the best one, ties to the lower key."""
    dict_side = spark.createDataFrame(alias_dict.select(["surface", "entity_key"])).select(
        F.concat(F.lit("d:"), F.col("surface")).alias("_id"),
        char_shingles(F.col("surface")).alias("_sh"),
        F.col("entity_key"),
    )
    query_side = spark.createDataFrame(missed).select(
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
        .where(F.col("jacc") >= threshold)
    )
    w = W.partitionBy("q_surface").orderBy(F.col("jacc").desc(), F.col("entity_key").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("q_surface").alias("surface"), F.col("entity_key").alias("fuzzy_key"))
        .toArrow()
    )


def resolve_surfaces(
    surfaces: DataFrame,
    alias_dict: pa.Table,
    fuzzy_threshold: float = 0.35,
    num_perm: int = 16,
    num_bands: int = 8,
) -> DataFrame:
    """Distinct surfaces → (surface, entity_key, match_type), a local
    relation built on the driver from one collect of the distinct surfaces.

    exact: surface in alias dict. fuzzy: best Jaccard over char-3-gram
    shingles among LSH-blocked dictionary candidates, if >= threshold
    (deterministic tiebreak: higher jaccard, then lexicographic key).
    new: otherwise the surface is its own key.
    """
    spark = surfaces.sparkSession
    s = surfaces.select("surface").where(F.col("surface").isNotNull()).distinct().toArrow()
    got = s.join(
        pa.table({"surface": alias_dict["surface"], "exact_key": alias_dict["entity_key"]}),
        "surface",
    )
    hit = pc.is_valid(got["exact_key"])
    fuzzy = pa.nulls(got.num_rows, pa.string())
    if not pc.all(hit).as_py():
        # the reference's cache hit rate is ~100% after warmup
        # (RunNeoLoader.java:211-217): the LSH machinery runs only when a
        # surface missed the dictionary, and only over those surfaces
        missed = got.filter(pc.invert(hit)).select(["surface"])
        got = got.join(
            _fuzzy_keys(spark, missed, alias_dict, fuzzy_threshold, num_perm, num_bands),
            "surface",
        )
        hit = pc.is_valid(got["exact_key"])
        fuzzy = got["fuzzy_key"]
    resolved = pa.table(
        {
            "surface": got["surface"],
            "entity_key": pc.coalesce(got["exact_key"], fuzzy, got["surface"]),
            "match_type": pc.if_else(
                hit, "exact", pc.if_else(pc.is_valid(fuzzy), "fuzzy", "new")
            ),
        },
        schema=RESOLVED_SCHEMA,
    )
    return spark.createDataFrame(resolved)


def _stored(entities: DataFrame, keys: pa.Array) -> tuple[pa.Table, int]:
    """(display_name, entity_id) of the ``entities`` rows whose key is in
    ``keys``, and the watermark max(entity_id) (0 when empty): one job and
    no shuffle — each partition returns its hits plus one keyless row
    carrying its own max id."""
    wanted = keys.to_pylist()

    def scan(batches):
        top = 0
        for b in batches:
            if b.num_rows:
                top = max(top, pc.max(b["entity_id"]).as_py())
            names = b["display_name"]
            yield b.filter(pc.is_in(names, value_set=pa.array(wanted, names.type))).cast(IDS_SCHEMA)
        yield pa.RecordBatch.from_pydict(
            {"display_name": [None], "entity_id": [top]}, schema=IDS_SCHEMA
        )

    got = (
        entities.select("display_name", "entity_id")
        .mapInArrow(scan, "display_name string, entity_id int")
        .toArrow()
    )
    watermark = pc.max(got["entity_id"]).as_py() or 0
    return got.filter(pc.is_valid(got["display_name"])), watermark


def get_or_create_entities(
    keys: pa.Array, entities: DataFrame | None
) -> tuple[pa.Table, pa.Table]:
    """M1 get-or-create over distinct entity ``keys``: returns the
    (display_name, entity_id) of every key and the entity rows created for
    the keys ``entities`` lacks.

    Created ids are dense, ordered by md5(key), from the watermark + 1 —
    deterministic across batches and parallelism levels."""
    if entities is None:
        known, watermark = IDS_SCHEMA.empty_table(), 0
    else:
        known, watermark = _stored(entities, keys)
    new = keys.filter(
        pc.invert(pc.is_in(keys, value_set=known["display_name"].combine_chunks()))
    )
    created = pa.table(
        {
            "entity_id": md5_rank(new, offset=watermark).cast(pa.int32()),
            "entity_type": pa.array(["concept"] * len(new)),
            "canonical_hash": [hashlib.md5(k.encode()).hexdigest() for k in new.to_pylist()],
            "display_name": new,
        },
        schema=ENTITY_SCHEMA,
    ).sort_by("entity_id")
    ids = pa.concat_tables([known, created.select(["display_name", "entity_id"]).cast(IDS_SCHEMA)])
    return ids, created


def link_mentions(
    mentions: DataFrame,
    alias_dict: pa.Table,
    entities: DataFrame | None = None,
    spark: SparkSession | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """mentions(+surface) → (linked mentions with entity_id, the entity rows
    created for keys ``entities`` lacks — the whole table on a first link —,
    surface → (entity_id, match_type) map).

    Linking happens on the distinct-surface set, then broadcast-joins back
    to the mention stream — the J8 cache-join shape. The created rows and
    the map are local relations built on the driver: on the exact path
    link runs only the distinct-surface collect (plus, with an existing
    ``entities`` table, the one job reading its hits and watermark), and
    nothing it returns holds a persisted RDD or reads ``entities``.
    """
    spark = spark or mentions.sparkSession
    # a local relation: collect reads its rows back with no Spark job
    resolved = pa.Table.from_pylist(
        [r.asDict() for r in resolve_surfaces(mentions.select("surface"), alias_dict).collect()],
        schema=RESOLVED_SCHEMA,
    )
    ids, created = get_or_create_entities(pc.unique(resolved["entity_key"]), entities)
    surface_to_id = spark.createDataFrame(
        resolved.join(ids.rename_columns(["entity_key", "entity_id"]), "entity_key").select(
            ["surface", "entity_id", "match_type"]
        )
    )
    linked = mentions.join(F.broadcast(surface_to_id), "surface")
    return linked, spark.createDataFrame(created), surface_to_id
