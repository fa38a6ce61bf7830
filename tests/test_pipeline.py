"""End-to-end pipeline: P/R vs oracle, invariant audits (FIXTURES.md §5),
resume-from-dirty-tail, and parallelism determinism."""

import shutil

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from btc_blockchain_scanner_spark.kg import canonicalize, datagen, oracle, pipeline


def _turns(tr):
    return [(r.conv_id, r.turn_idx, r.text) for r in tr.orderBy("conv_id", "turn_idx").collect()]


def assert_counters_match(spark, out, counters, turns, o):
    """The counters a run reports — read back from the manifest and the
    written files' footers — equal the oracle's counts and Spark's counts
    of the written tables."""
    assert {k: counters[k] for k in ("turns_scanned", "mentions_found", "triples_emitted")} == {
        "turns_scanned": len(turns),
        "mentions_found": len(o["mentions"]),
        "triples_emitted": len(o["triples"]),
    }
    assert counters["entities"] == len(o["entity_ids"])
    for table in ("entities", "nodes", "edges"):
        assert counters[table] == pipeline.read_table(spark, out, table).count(), table


@pytest.fixture(scope="module")
def run_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg"))
    tr = datagen.transcripts(spark, n_convs=40).cache()
    res = pipeline.run(spark, tr, out, n_parts=4)
    turns = _turns(tr)
    o = oracle.run(turns)
    assert_counters_match(spark, out, res.counters, turns, o)
    return out, res, o


def test_triple_pr_vs_oracle(spark, run_dir):
    out, res, o = run_dir
    got = {
        tuple(r)
        for r in pipeline.read_table(spark, out, "edges")
        .selectExpr("conv_id", "turn_idx", "src", "rel", "dst", "pos")
        .collect()
    }
    truth = set(map(tuple, o["triples"]))
    p, r = oracle.precision_recall(got, truth)
    assert p >= 0.95 and r >= 0.95, (p, r)
    assert p == 1.0 and r == 1.0  # closed vocab → exact


def test_canon_matches_union_find(spark, run_dir):
    out, res, o = run_dir
    got = {(r.entity_id, r.canon_id) for r in pipeline.read_table(spark, out, "canon_map").collect()}
    assert got == set(o["canon"].items())


def test_invariants(spark, run_dir):
    out, res, o = run_dir
    edges = pipeline.read_table(spark, out, "edges")
    entities = pipeline.read_table(spark, out, "entities")
    canon = pipeline.read_table(spark, out, "canon_map")
    mentions = pipeline.read_table(spark, out, "mentions")

    # 1. no dangling edge endpoints (NeoQueries.java:95-102 audit analog)
    eids = entities.select(F.col("entity_id").cast("long").alias("id"))
    assert edges.join(eids, edges.src == eids.id, "left_anti").count() == 0
    assert edges.join(eids, edges.dst == eids.id, "left_anti").count() == 0

    # 2. every entity has a canon row; fixpoint stability
    assert entities.join(canon, "entity_id", "left_anti").count() == 0
    from btc_blockchain_scanner_spark.kg.link import default_alias_dict, link_mentions

    linked, _, _ = link_mentions(mentions, default_alias_dict(spark), spark=spark)
    sim_edges = canonicalize.comention_edges(linked)
    assert canonicalize.verify_fixpoint(canon, sim_edges) == 0

    # 3. checkpoint counters reconcile with table counts (per partition)
    cps = pipeline.read_table(spark, out, "checkpoints")
    m_per = (
        mentions.groupBy("partition_key").count().withColumnRenamed("count", "actual")
    )
    bad = (
        cps.join(m_per, "partition_key", "left")
        .where(F.col("mentions_found") != F.coalesce(F.col("actual"), F.lit(0)))
        .count()
    )
    assert bad == 0

    # 4. no orphan canon ids (unused-wallet audit analog)
    canon_ids = canon.select("canon_id").distinct()
    assert canon_ids.join(
        canon.select(F.col("entity_id").alias("canon_id")).distinct(), "canon_id", "left_anti"
    ).count() == 0


def with_flag_defaults(mentions: DataFrame, flags: DataFrame) -> DataFrame:
    """Join the sparse flags table back onto the full mention stream with
    coalesced defaults (false) — the read-side F8 shape the reference uses
    when it re-attaches input_special rows on demand."""
    return mentions.join(flags, ["conv_id", "turn_idx", "pos"], "left").withColumns(
        {
            "flag_alias": F.coalesce(F.col("flag_alias"), F.lit(False)),
            "flag_caps": F.coalesce(F.col("flag_caps"), F.lit(False)),
        }
    )


def test_mention_flags_sparse_side_table(spark, run_dir):
    """F4 (input_special analog): the flags table holds ONLY non-default
    rows; joining back with defaults covers every mention exactly once."""
    out, res, o = run_dir
    mentions = pipeline.read_table(spark, out, "mentions")
    flags = pipeline.read_table(spark, out, "mention_flags")

    # sparse: every stored row has at least one non-default flag
    assert flags.where(~(F.col("flag_alias") | F.col("flag_caps"))).count() == 0
    # and the table is genuinely sparse (alias mentions are a strict subset)
    n_m, n_f = mentions.count(), flags.count()
    assert 0 < n_f < n_m
    assert n_f == mentions.where(F.col("mention_type") == "alias").count()

    # join-back with coalesced defaults: same cardinality, flags total match
    full = with_flag_defaults(mentions, flags.drop("partition_key"))
    assert full.count() == n_m
    assert full.where("flag_alias").count() == n_f


def test_entity_tags_side_tables(spark, run_dir):
    """Tags analog (create-db-structure-tags.sql): deterministic tag dim,
    idempotent entity_tag link load, read-side join-back with empty-array
    default."""
    from btc_blockchain_scanner_spark.kg import tags as TG

    out, res, o = run_dir
    entities = pipeline.read_table(spark, out, "entities")
    nodes = pipeline.read_table(spark, out, "nodes")

    dim = TG.tag_dim(spark, ["tool", "org", "tool"])  # dup name collapses
    assert {(r.tag_id, r.name) for r in dim.collect()} == {
        (r2.tag_id, r2.name) for r2 in TG.tag_dim(spark, ["org", "tool"]).collect()
    }

    some = [r.display_name for r in entities.limit(2).orderBy("entity_id").collect()]
    rules = spark.createDataFrame(
        [(some[0], "tool"), (some[0], "org"), (some[1], "org")], "display_name string, name string"
    )
    et = TG.tag_entities(entities, rules, dim)
    assert et.count() == 3
    # idempotent: loading the same rules twice yields the same link table
    et2 = TG.tag_entities(entities, rules.unionAll(rules), dim)
    assert {tuple(r) for r in et2.collect()} == {tuple(r) for r in et.collect()}

    tn = TG.tagged_nodes(nodes, et, dim)
    assert tn.count() == nodes.count()
    got = {r.display_name: list(r.tags) for r in tn.where(F.size("tags") > 0).collect()}
    assert got == {some[0]: ["org", "tool"], some[1]: ["org"]}


def test_resume_from_dirty_tail(spark, tmp_path):
    """Kill mid-run (only partitions 0/1 extracted, no manifest), then resume
    → output identical to a clean full run (M4/M5, FIXTURES.md §3)."""
    tr = datagen.transcripts(spark, n_convs=25).cache()

    clean_dir, dirty_dir = str(tmp_path / "clean"), str(tmp_path / "dirty")
    pipeline.run(spark, tr, clean_dir, n_parts=4)

    with pytest.raises(RuntimeError, match="simulated mid-run failure"):
        pipeline.run(spark, tr, dirty_dir, n_parts=4, fail_after_extract_partitions={"0", "1"})
    # resume: manifest is empty → all partitions recomputed (overwrite of the
    # dirty ones), globals rebuilt
    pipeline.run(spark, tr, dirty_dir, n_parts=4)

    for table in ("mentions", "triples", "entities", "canon_map", "nodes", "edges"):
        a = {tuple(r) for r in pipeline.read_table(spark, clean_dir, table).collect()}
        b = {tuple(r) for r in pipeline.read_table(spark, dirty_dir, table).collect()}
        assert a == b, f"{table} differs after resume"


def test_tail_validation_detects_corrupt_partition(spark, tmp_path):
    """M5 (DbValidationUtils analog): a partition whose manifest row says
    done but whose parquet data is truncated mid-write must be detected on
    resume and re-extracted → byte-identical to a clean run."""
    import glob
    import os

    tr = datagen.transcripts(spark, n_convs=25).cache()
    clean_dir, hurt_dir = str(tmp_path / "clean"), str(tmp_path / "hurt")
    pipeline.run(spark, tr, clean_dir, n_parts=4)
    pipeline.run(spark, tr, hurt_dir, n_parts=4)

    # simulate a mid-write crash AFTER the manifest said done: truncate one
    # mentions partition file to half its bytes (footer gone = corrupt)
    files = glob.glob(f"{hurt_dir}/mentions/partition_key=2/*.parquet")
    assert files
    with open(files[0], "r+b") as f:
        f.truncate(os.path.getsize(files[0]) // 2)

    res = pipeline.run(spark, tr, hurt_dir, n_parts=4)
    assert res.processed_partitions == ["2"], "only the corrupt partition re-runs"

    for table in ("mentions", "triples", "entities", "canon_map", "nodes", "edges"):
        a = {tuple(r) for r in pipeline.read_table(spark, clean_dir, table).collect()}
        b = {tuple(r) for r in pipeline.read_table(spark, hurt_dir, table).collect()}
        assert a == b, f"{table} differs after tail repair"


def test_tail_validation_on_file_uri_path(spark, tmp_path):
    """M5 must be cluster-real: the footer cross-check resolves URI-style
    paths through pyarrow.fs instead of raising (VERDICT r3 item 6 — the
    r3 stopgap raised on any 'file:' path). Same corrupt-partition scenario
    as above, but the whole pipeline runs against a file: URI out_dir."""
    import glob
    import os

    tr = datagen.transcripts(spark, n_convs=25).cache()
    local = str(tmp_path / "uri")
    out = f"file:{local}"
    res0 = pipeline.run(spark, tr, out, n_parts=4)
    turns = _turns(tr)
    assert_counters_match(spark, out, res0.counters, turns, oracle.run(turns))

    files = glob.glob(f"{local}/mentions/partition_key=2/*.parquet")
    assert files
    with open(files[0], "r+b") as f:
        f.truncate(os.path.getsize(files[0]) // 2)

    res = pipeline.run(spark, tr, out, n_parts=4)
    assert res.processed_partitions == ["2"], "only the corrupt partition re-runs"
    # and a clean re-run sees everything done through the URI path too
    res2 = pipeline.run(spark, tr, out, n_parts=4)
    assert res2.processed_partitions == []


def test_tail_validation_detects_row_loss(spark, tmp_path):
    """A partition whose file count is intact but rows were silently lost
    (footer count != manifest counter) is also re-extracted."""
    import glob

    tr = datagen.transcripts(spark, n_convs=25).cache()
    out = str(tmp_path / "loss")
    pipeline.run(spark, tr, out, n_parts=4)

    # overwrite one triples partition with a valid-but-short parquet file
    pdir_files = glob.glob(f"{out}/triples/partition_key=1/*.parquet")
    assert pdir_files
    short = spark.read.parquet(f"{out}/triples/partition_key=1").limit(1)
    import pandas as pd  # noqa: F401 — via toPandas
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.Table.from_pandas(short.toPandas())
    for f in pdir_files:
        import os

        os.remove(f)
    pq.write_table(tbl, pdir_files[0])

    res = pipeline.run(spark, tr, out, n_parts=4)
    assert res.processed_partitions == ["1"]


def test_resume_skips_done_partitions(spark, tmp_path):
    out = str(tmp_path / "incr")
    tr = datagen.transcripts(spark, n_convs=15).cache()
    res1 = pipeline.run(spark, tr, out, n_parts=4)
    assert sorted(res1.processed_partitions, key=int) == ["0", "1", "2", "3"]
    res2 = pipeline.run(spark, tr, out, n_parts=4)
    assert res2.processed_partitions == []  # manifest says all done
    assert res1.counters == res2.counters


def _manifest_row(key, n):
    return {
        "partition_key": key,
        "last_done": "batch-1",
        "turns_scanned": n,
        "mentions_found": 2 * n,
        "triples_emitted": 3 * n,
    }


def test_manifest_record_replaces_only_given_partitions(tmp_path):
    import os

    from btc_blockchain_scanner_spark.kg.checkpoints import Manifest

    path = str(tmp_path / "checkpoints")
    m = Manifest(path)
    assert m.rows() == []
    m.record([_manifest_row(k, int(k) + 1) for k in ("0", "1", "2")])
    m.record([_manifest_row("1", 10), _manifest_row("3", 4)])

    got = {r["partition_key"]: r["turns_scanned"] for r in m.rows()}
    assert got == {"0": 1, "1": 10, "2": 3, "3": 4}
    assert {r["partition_key"]: r["triples_emitted"] for r in m.rows()}["1"] == 30
    # one data file per partition, no temporary left behind
    for key in got:
        assert os.listdir(f"{path}/partition_key={key}") == ["part-00000.parquet"]


def test_manifest_record_replaces_spark_written_partition(spark, tmp_path):
    """A partition an earlier Spark writer produced (other file names, INT96
    timestamps, .crc side files) is replaced whole, not appended to."""
    import os

    from btc_blockchain_scanner_spark.kg.checkpoints import Manifest

    path = str(tmp_path / "checkpoints")
    spark.createDataFrame([_manifest_row(k, 5) for k in ("0", "1")]).withColumn(
        "updated_at", F.current_timestamp()
    ).write.partitionBy("partition_key").parquet(path)
    m = Manifest(path)
    m.record([_manifest_row("0", 7)])
    assert {r["partition_key"]: r["turns_scanned"] for r in m.rows()} == {"0": 7, "1": 5}
    assert os.listdir(f"{path}/partition_key=0") == ["part-00000.parquet"]


def test_manifest_spark_types(spark, tmp_path):
    """Spark reads the pyarrow-written manifest with the types a Spark
    writer gave it: partition_key inferred as int, updated_at TIMESTAMP."""
    from btc_blockchain_scanner_spark.kg.checkpoints import Manifest

    path = str(tmp_path / "checkpoints")
    Manifest(path).record([_manifest_row("0", 1), _manifest_row("5", 2)])
    df = spark.read.parquet(path)
    types = dict(df.dtypes)
    assert types["partition_key"] == "int"
    assert types["updated_at"] == "timestamp"
    assert {c: types[c] for c in ("turns_scanned", "mentions_found", "triples_emitted")} == {
        "turns_scanned": "bigint",
        "mentions_found": "bigint",
        "triples_emitted": "bigint",
    }
    assert {(r.partition_key, r.turns_scanned) for r in df.collect()} == {(0, 1), (5, 2)}


def test_pipeline_deterministic_across_parallelism(spark, tmp_path):
    tr = datagen.transcripts(spark, n_convs=20).cache()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    outs = {}
    try:
        for label, parts in (("lo", "3"), ("hi", "24")):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            d = str(tmp_path / label)
            pipeline.run(spark, tr, d, n_parts=4)
            outs[label] = {
                t: {tuple(r) for r in pipeline.read_table(spark, d, t).collect()}
                for t in ("mentions", "triples", "entities", "canon_map", "edges")
            }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert outs["lo"] == outs["hi"]


def test_incremental_update_matches_full_canon_structure(spark, tmp_path):
    """The per-batch incremental pass (update_wallets loop body: link
    against existing entities, contract + merge into the persisted canon
    map) must produce the SAME canonical partition of entity keys as one
    full pass over everything — ids may differ (arrival-order watermark,
    like the reference's counter-assigned wallet ids), structure may not."""
    tr = datagen.transcripts(spark, n_convs=30).cache()
    b1 = tr.where(F.col("conv_id") < "conv_00000015")
    b2 = tr.where(F.col("conv_id") >= "conv_00000015")

    inc_state = str(tmp_path / "inc")
    s1 = pipeline.incremental_update(spark, b1, inc_state)
    s2 = pipeline.incremental_update(spark, b2, inc_state)
    assert s1["entities"]["inserted"] > 0
    assert s2["canon_map"]["updated"] + s2["canon_map"]["kept"] > 0

    full_state = str(tmp_path / "full")
    pipeline.incremental_update(spark, tr, full_state)

    def partition(state):
        ents = spark.read.parquet(f"{state}/entities")
        canon = spark.read.parquet(f"{state}/canon_map")
        names = {r.entity_id: r.display_name for r in ents.collect()}
        groups: dict = {}
        for r in canon.collect():
            groups.setdefault(r.canon_id, set()).add(names[r.entity_id])
        # canon map must be total over the entities table
        assert sum(len(v) for v in groups.values()) == len(names)
        return {frozenset(v) for v in groups.values()}

    assert partition(inc_state) == partition(full_state)


def test_incremental_update_deterministic_rerun(spark, tmp_path):
    """Replaying the same batch sequence yields byte-identical state —
    the cross-batch id-watermark determinism contract (SURVEY §7.3b)."""
    tr = datagen.transcripts(spark, n_convs=20).cache()
    b1 = tr.where(F.col("conv_id") < "conv_00000010")
    b2 = tr.where(F.col("conv_id") >= "conv_00000010")
    tables = {}
    for run in ("a", "b"):
        state = str(tmp_path / run)
        pipeline.incremental_update(spark, b1, state)
        pipeline.incremental_update(spark, b2, state)
        tables[run] = {
            t: {tuple(r) for r in spark.read.parquet(f"{state}/{t}").collect()}
            for t in ("entities", "canon_map")
        }
    assert tables["a"] == tables["b"]


def test_incremental_update_rejects_uri_state_dir(spark):
    """ADVICE r4: a URI state_dir read as 'no existing state' by
    os.path.isdir would silently reassign ids and overwrite batch 1 —
    both the pipeline entry and the merge sink must refuse loudly."""
    from btc_blockchain_scanner_spark.sources.merge import merge_upsert

    tr = datagen.transcripts(spark, n_convs=2)
    for bad in ("file:/tmp/state", "hdfs://nn/state", "s3://bucket/state"):
        with pytest.raises(NotImplementedError):
            pipeline.incremental_update(spark, tr, bad)
    with pytest.raises(NotImplementedError):
        merge_upsert(spark, "s3://bucket/entities", tr.limit(1), ["conv_id"])


def test_sink_write_failure_surfaces_when_canon_raises(spark, tmp_path, monkeypatch):
    """The entities/edges writes overlap canon_map; when canon raises, a
    write failure must still be raised (canon's error chained to it), not
    swallowed by the pool's exit."""
    from btc_blockchain_scanner_spark.kg import materialize

    def canon_fails(entities, edges):
        raise RuntimeError("canon failed")

    def edges_fail(linked_triples):
        boom = F.raise_error(F.lit("edges sink failed"))
        return linked_triples.select(F.when(F.lit(True), boom).otherwise(F.lit(1)).alias("x"))

    monkeypatch.setattr(canonicalize, "canon_map", canon_fails)
    monkeypatch.setattr(materialize, "build_edges", edges_fail)
    tr = datagen.transcripts(spark, n_convs=4)
    with pytest.raises(Exception, match="edges sink failed") as err:
        pipeline.run(spark, tr, str(tmp_path / "kg"), n_parts=2)
    assert "canon failed" in str(err.value.__context__)


def test_run_and_incremental_update_leave_no_persisted_rdds(spark, tmp_path, persistent_ids):
    """pipeline.run then incremental_update into its state (the perfbench
    kg_pipeline op) must release every checkpoint and cache they take:
    the entities checkpoint link_mentions hands back, and the canon one."""
    tr = datagen.transcripts(spark, n_convs=16)
    out = str(tmp_path / "kg")
    before = persistent_ids()
    pipeline.run(spark, tr.where(F.col("conv_id") < "conv_00000012"), out, n_parts=2)
    pipeline.incremental_update(spark, tr.where(F.col("conv_id") >= "conv_00000012"), out)
    assert persistent_ids() - before == set()
