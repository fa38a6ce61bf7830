"""Entity linking: exact dict hits, LSH fuzzy matches, deterministic
get-or-create ids across batches (M1 semantics)."""

import hashlib

import pyarrow as pa
from pyspark.sql import functions as F

from btc_blockchain_scanner_spark.kg import link, oracle

MENTIONS = "conv_id string, turn_idx int, pos int, surface string"


def _mentions(spark, surfaces):
    return spark.createDataFrame(
        [("c1", 0, i, s) for i, s in enumerate(surfaces)], MENTIONS
    )


def test_exact_and_alias_resolution(spark):
    d = link.default_alias_dict()
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
    d = link.default_alias_dict()
    surfaces = spark.createDataFrame(
        [("snowflakee",), ("cassandraa",), ("zzqqxx",)], "surface string"
    )
    res = {r.surface: (r.entity_key, r.match_type) for r in link.resolve_surfaces(surfaces, d).collect()}
    assert res["snowflakee"] == ("snowflake", "fuzzy")
    assert res["cassandraa"] == ("cassandra", "fuzzy")
    assert res["zzqqxx"] == ("zzqqxx", "new")  # nothing similar → own entity


def test_get_or_create_deterministic_and_incremental(spark):
    ids1, created1 = link.get_or_create_entities(pa.array(["spark", "kafka", "hive"]), None)
    # matches the oracle's md5-ordered dense assignment
    want = oracle.assign_ids({"spark", "kafka", "hive"})
    assert dict(zip(*ids1.to_pydict().values())) == want
    assert dict(zip(created1["display_name"].to_pylist(), created1["entity_id"].to_pylist())) == want

    # second batch: existing keys keep ids, only new keys are created,
    # past the watermark
    ids2, created2 = link.get_or_create_entities(
        pa.array(["spark", "trino"]), spark.createDataFrame(created1)
    )
    assert dict(zip(*ids2.to_pydict().values())) == {"spark": want["spark"], "trino": 4}
    assert created2["display_name"].to_pylist() == ["trino"]


def test_link_mentions_roundtrip(spark):
    d = link.default_alias_dict()
    mentions = spark.createDataFrame(
        [("c1", 0, 1, "spark"), ("c1", 0, 3, "sprk"), ("c2", 1, 0, "kafka")], MENTIONS
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


def test_link_parity_into_existing_entities(spark):
    """Exact, alias, fuzzy and new surfaces linked into an existing
    entities table: stored keys keep their ids, new keys get the oracle's
    md5-ordered ids offset by the table's watermark, and only new keys
    become entity rows."""
    stored = spark.createDataFrame(
        [(7, "concept", "x", "spark"), (3, "concept", "y", "kafka")],
        "entity_id int, entity_type string, canonical_hash string, display_name string",
    )
    surfaces = ["spark", "sprk", "hive", "postgresql", "snowflakee", "zzqqxx"]
    linked, created, surface_to_id = link.link_mentions(
        _mentions(spark, surfaces), link.default_alias_dict(), entities=stored, spark=spark
    )
    new = {k: 7 + i for k, i in oracle.assign_ids({"hive", "postgres", "snowflake", "zzqqxx"}).items()}
    key = {"spark": "spark", "sprk": "spark", "hive": "hive", "postgresql": "postgres",
           "snowflakee": "snowflake", "zzqqxx": "zzqqxx"}
    ids = {"spark": 7, **new}
    kinds = {"spark": "exact", "sprk": "exact", "hive": "exact", "postgresql": "exact",
             "snowflakee": "fuzzy", "zzqqxx": "new"}
    assert {tuple(r) for r in surface_to_id.collect()} == {
        (s, ids[key[s]], kinds[s]) for s in surfaces
    }
    assert {tuple(r) for r in created.collect()} == {
        (i, "concept", hashlib.md5(k.encode()).hexdigest(), k) for k, i in new.items()
    }
    assert {(r.pos, r.entity_id) for r in linked.collect()} == {
        (i, ids[key[s]]) for i, s in enumerate(surfaces)
    }


def test_link_leaves_no_persisted_rdd(spark, persistent_ids):
    """Link's outputs are local relations: it leaves no RDD registered, on
    the exact fast path and on the LSH fuzzy path alike, and consuming
    its outputs persists nothing either."""
    d = link.default_alias_dict()
    for surfaces, kinds in ((["spark", "sprk"], {"exact"}), (["spark", "snowflakee"], {"exact", "fuzzy"})):
        before = persistent_ids()
        linked, entities, surface_to_id = link.link_mentions(
            _mentions(spark, surfaces), d, spark=spark
        )
        assert {r.match_type for r in surface_to_id.collect()} == kinds
        linked.count()
        entities.count()
        assert persistent_ids() - before == set(), kinds


def test_link_job_budget(spark, tmp_path):
    """On the exact path link runs at most 2 Spark jobs (the distinct-surface
    collect), and one more with an existing entities table (its hits and
    watermark); both counted through statusTracker job groups."""
    sc = spark.sparkContext
    _mentions(spark, ["spark", "sprk", "kafka", "postgresql"] * 5).write.parquet(
        str(tmp_path / "m")
    )
    mentions = spark.read.parquet(str(tmp_path / "m"))
    d = link.default_alias_dict()

    def jobs(group, **kw):
        sc.setJobGroup(group, "link")
        try:
            out = link.link_mentions(mentions, d, spark=spark, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    (_, entities, _), n_first = jobs("link-first")
    _, n_existing = jobs("link-existing", entities=entities.where(F.col("entity_id") > 1))
    assert 1 <= n_first <= 2
    assert n_existing <= n_first + 1
