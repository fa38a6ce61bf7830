"""Entity linking: exact dict hits, LSH fuzzy matches, deterministic
get-or-create ids across batches (M1 semantics)."""

from pyspark.sql import functions as F

from btc_blockchain_scanner_spark.kg import link, oracle
from btc_blockchain_scanner_spark.kg.vocab import ALIASES


def test_exact_and_alias_resolution(spark):
    d = link.default_alias_dict(spark)
    surfaces = spark.createDataFrame(
        [("spark",), ("sprk",), ("postgresql",), ("neo4j",)], "surface string"
    )
    res = {r.surface: (r.entity_key, r.match_type) for r in link.resolve_surfaces(surfaces, d).collect()}
    assert res["spark"] == ("spark", "exact")
    assert res["sprk"] == ("spark", "exact")  # alias is a dict row → exact
    assert res["postgresql"] == ("postgres", "exact")
    assert res["neo4j"] == ("neo4j", "exact")


def test_fuzzy_lsh_resolution(spark):
    # typos NOT in the alias dict → must fuzzy-match via LSH char shingles
    d = link.default_alias_dict(spark)
    surfaces = spark.createDataFrame(
        [("snowflakee",), ("cassandraa",), ("zzqqxx",)], "surface string"
    )
    res = {r.surface: (r.entity_key, r.match_type) for r in link.resolve_surfaces(surfaces, d).collect()}
    assert res["snowflakee"] == ("snowflake", "fuzzy")
    assert res["cassandraa"] == ("cassandra", "fuzzy")
    assert res["zzqqxx"] == ("zzqqxx", "new")  # nothing similar → own entity


def test_get_or_create_deterministic_and_incremental(spark):
    keys1 = spark.createDataFrame([("spark",), ("kafka",), ("hive",)], "entity_key string")
    ents1 = link.get_or_create_entities(spark, keys1, None)
    ids1 = {r.display_name: r.entity_id for r in ents1.collect()}
    # matches the oracle's md5-ordered dense assignment
    assert ids1 == oracle.assign_ids({"spark", "kafka", "hive"})

    # second batch: existing keys keep ids, new keys extend past watermark
    keys2 = spark.createDataFrame([("spark",), ("trino",)], "entity_key string")
    ents2 = link.get_or_create_entities(spark, keys2, ents1)
    ids2 = {r.display_name: r.entity_id for r in ents2.collect()}
    assert ids2["spark"] == ids1["spark"]
    assert ids2["trino"] == 4
    assert len(ids2) == 4


def test_link_mentions_roundtrip(spark):
    d = link.default_alias_dict(spark)
    mentions = spark.createDataFrame(
        [("c1", 0, 1, "spark"), ("c1", 0, 3, "sprk"), ("c2", 1, 0, "kafka")],
        "conv_id string, turn_idx int, pos int, surface string",
    )
    linked, entities, surface_to_id = link.link_mentions(mentions, d, spark=spark)
    rows = linked.select("surface", "entity_id").collect()
    by_surface = {}
    for r in rows:
        by_surface.setdefault(r.surface, set()).add(r.entity_id)
    # alias and canonical surface link to the SAME entity id
    assert by_surface["spark"] == by_surface["sprk"]
    assert entities.count() == 2  # spark, kafka
    # the returned map is the one the mentions were joined through
    assert {(r.surface, r.entity_id) for r in surface_to_id.collect()} == {
        (s, i) for s, ids in by_surface.items() for i in ids
    }
    assert {r.match_type for r in surface_to_id.collect()} == {"exact"}


def test_link_mentions_persists_only_entity_checkpoint(spark, persistent_ids):
    """Link materializes its outputs once: the entities checkpoint is the
    only RDD it leaves registered, on the exact fast path and on the LSH
    fuzzy path alike (the surface map is a driver-collected local relation,
    and resolution releases what it persisted)."""
    d = link.default_alias_dict(spark)
    for surfaces, kinds in ((["spark", "sprk"], {"exact"}), (["spark", "snowflakee"], {"exact", "fuzzy"})):
        mentions = spark.createDataFrame(
            [("c1", 0, i, s) for i, s in enumerate(surfaces)],
            "conv_id string, turn_idx int, pos int, surface string",
        )
        before = persistent_ids()
        linked, entities, surface_to_id = link.link_mentions(mentions, d, spark=spark)
        added = persistent_ids() - before
        assert len(added) == 1, kinds
        assert {r.match_type for r in surface_to_id.collect()} == kinds
        # consuming the outputs materializes nothing further
        linked.count()
        entities.count()
        assert persistent_ids() - before == added
