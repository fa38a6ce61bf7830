"""End-to-end KG construction pipeline with resumable per-partition runs.

Mirrors the reference's `update` → `update_wallets` → `load_neo4j` command
sequence (SURVEY.md §3) as one orchestrated Spark job graph:

    transcripts ──extract(Arrow UDF)──▶ mentions, raw triples   [per-partition]
    mentions ──link (broadcast dict + LSH)──▶ entities, linked  [global]
    linked  ──CC canonicalize──▶ canon_map                       [global]
    triples+entities ──materialize──▶ nodes, edges               [global]
    counters ──▶ checkpoints manifest                            [per-partition]

Link runs on the driver: it collects the distinct surfaces once and holds
them, the alias dictionary and, in an incremental batch, the entities-state
rows whose key the batch resolved (link.py). It hands back the entity rows
it created and the surface → entity map as local relations, so the triples
resolve through that map, and neither CC nor the sinks re-run resolution,
the md5 rank or any read of the entities state. The run's counters come
from what was written: the per-partition rows recorded in the manifest and
the footers of the written tables.

Partitioning: partition_key = pmod(xxhash64(conv_id), n_parts) — the
conv_id-range analog of the reference's block-height batches. The turns
are shuffled once, on partition_key, before the extraction UDF; the
mentions, triples and flags keep that partitioning, so each partition dir
gets one file with no exchange per sink. The extraction stage writes
mentions/triples with dynamic partition overwrite,
so a killed run resumes by recomputing only partitions missing from the
manifest and yields byte-identical output (M4/M5 semantics; tested in
tests/test_pipeline.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import overlap, release
from . import canonicalize, extract, link, materialize
from .checkpoints import COUNTERS, Manifest, rowcount


def with_partition_key(df: DataFrame, n_parts: int) -> DataFrame:
    return df.withColumn(
        "partition_key", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_parts)).cast("string")
    )


@dataclass
class PipelineResult:
    out_dir: str
    counters: dict
    processed_partitions: list[str]


def _write_partitioned(df: DataFrame, path: str) -> None:
    """Dynamic-overwrite ``df`` by ``partition_key``; ``df`` must already be
    hash-partitioned on it, so each partition dir gets one file."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("partition_key")
        .parquet(path)
    )


def run(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_parts: int = 8,
    alias_dict: pa.Table | None = None,
    fail_after_extract_partitions: set[str] | None = None,
) -> PipelineResult:
    """Run (or resume) the pipeline.

    ``fail_after_extract_partitions`` is a test hook (dirty-tail fixture,
    FIXTURES.md §3): when set, extraction only covers those partitions and
    the run aborts before linking — simulating a mid-job kill.
    """
    alias_dict = alias_dict if alias_dict is not None else link.default_alias_dict()
    manifest = Manifest(f"{out_dir}/checkpoints")
    turns = with_partition_key(transcripts, n_parts)

    mentions_path = f"{out_dir}/mentions"
    triples_path = f"{out_dir}/triples"

    # M5 tail validation: a manifest row only counts as done if the
    # partition's parquet footers agree with its counters — a partition
    # whose data is truncated/corrupt while its manifest row says done is
    # re-extracted (DbValidationUtils.java:77-165 analog).
    done = manifest.validated_done(
        {mentions_path: "mentions_found", triples_path: "triples_emitted"}
    )
    all_parts = {str(i) for i in range(n_parts)}
    pending = sorted(all_parts - done, key=int)
    if fail_after_extract_partitions is not None:
        pending = sorted(set(pending) & fail_after_extract_partitions, key=int)

    if pending:
        # the one shuffle of the extraction: on the sink key, so every
        # table below inherits the partitioning its write needs
        batch = turns.where(F.col("partition_key").isin(pending)).repartition("partition_key")
        # One pass over the UDF output for all tables: persist the struct.
        extracted = extract.extract(batch, repartition_on_conv=False).persist()
        mentions = extract.mentions_from(extracted)
        triples = extract.triples_from(extracted)
        # F4 sparse-flags side table (input_special analog): rows exist ONLY
        # for non-default mentions; readers re-attach them with coalesced
        # defaults (tests/test_pipeline.py). Computed from the
        # persisted extraction struct directly — no mentions ⋈ turns join.
        flags = extract.mention_flags_from_extracted(extracted)
        # The three sink jobs all branch off the SAME persisted extraction
        # and write to disjoint paths — overlap them.
        overlap(
            lambda: _write_partitioned(mentions, mentions_path),
            lambda: _write_partitioned(triples, triples_path),
            lambda: _write_partitioned(flags, f"{out_dir}/mention_flags"),
        )

        if fail_after_extract_partitions is not None:
            extracted.unpersist()
            raise RuntimeError("simulated mid-run failure (dirty-tail test hook)")

        # per-partition lineage counters (A8 analog: DbUpdate.printStats) —
        # ONE aggregate over the persisted extraction, collected; a
        # hash-empty pending partition still gets a (zero) manifest row so
        # resume doesn't re-queue it forever.
        per_part = {
            r["partition_key"]: r
            for r in extracted.groupBy("partition_key")
            .agg(
                F.count("*").alias("turns_scanned"),
                F.sum(F.size("ex.mentions")).alias("mentions_found"),
                F.sum(F.size("ex.triples")).alias("triples_emitted"),
            )
            .collect()
        }
        manifest.record(
            [
                {
                    "partition_key": p,
                    "last_done": "batch-1",
                    **{c: int(per_part[p][c]) if p in per_part else 0 for c in COUNTERS},
                }
                for p in pending
            ]
        )
        extracted.unpersist()

    # Global stages (linking, canonicalization, materialization) recompute
    # over all extracted data — idempotent, like the reference's
    # update_wallets full sweep (SURVEY.md §3.2).
    mentions_all = spark.read.parquet(mentions_path)
    triples_all = spark.read.parquet(triples_path)

    # entities and the surface map come back as local relations (link.py),
    # so neither the sinks nor CC below re-run resolution or the md5 rank
    linked_mentions, entities, surface_to_id = link.link_mentions(
        mentions_all, alias_dict, spark=spark
    )
    # the triples resolve through the collected map (a local relation),
    # not a distinct over every linked mention
    ids = surface_to_id.select("surface", "entity_id")
    linked_triples = triples_all.join(
        F.broadcast(ids.toDF("subj_surface", "subj_entity")), "subj_surface"
    ).join(F.broadcast(ids.toDF("obj_surface", "obj_entity")), "obj_surface")

    edges_sim = canonicalize.comention_edges(linked_mentions)
    edges = materialize.build_edges(linked_triples)
    canon = None
    try:
        # Three independent pieces of work: the entities state write, the
        # edges sink (depends only on linked triples), and the canon
        # computation (CC materializes eagerly inside canon_map).
        _, _, canon = overlap(
            lambda: entities.write.mode("overwrite").parquet(f"{out_dir}/entities"),
            lambda: edges.write.mode("overwrite").parquet(f"{out_dir}/edges"),
            lambda: canonicalize.canon_map(entities, edges_sim).localCheckpoint(eager=True),
        )

        nodes = materialize.build_nodes(entities, canon)
        # canon state write ∥ nodes sink (nodes needs canon, so it waited)
        overlap(
            lambda: canon.write.mode("overwrite").parquet(f"{out_dir}/canon_map"),
            lambda: nodes.write.mode("overwrite").parquet(f"{out_dir}/nodes"),
        )
    finally:
        # every reader of the canon checkpoint has returned
        if canon is not None:
            release(canon)

    # counters come from what was written: lineage totals from the manifest
    # rows, table counts from the written files' parquet footers — no job
    rows = manifest.rows()
    counters_out = {c: sum(r[c] or 0 for r in rows) for c in COUNTERS}
    for table in ("entities", "nodes", "edges"):
        counters_out[table] = rowcount(f"{out_dir}/{table}")
    return PipelineResult(out_dir=out_dir, counters=counters_out, processed_partitions=pending)


def read_table(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, name))


def incremental_update(
    spark: SparkSession,
    new_transcripts: DataFrame,
    state_dir: str,
    alias_dict: pa.Table | None = None,
) -> dict:
    """One incremental KG batch — the ``update_wallets`` per-batch loop body
    (RunUpdateWallets2.java:107-133: fetch the next tx batch, resolve
    addresses against the EXISTING wallet table, merge wallets in place).

    Per batch of newly landed transcripts:

    1. extract mentions (Arrow UDF — batch only, not the corpus);
    2. link against the persisted ``entities`` state table — get-or-create
       keeps ids stable across batches (M1 watermark semantics). Link reads
       from that state only the rows whose key the batch resolved, plus the
       watermark, in one job; the driver holds those rows;
    3. derive co-mention star edges for the batch;
    4. merge them into the persisted ``canon_map`` via
       :func:`canonicalize.incremental_canon_update` — CC runs over the
       CONTRACTED batch graph only, never the full edge history;
    5. upsert both state tables through the MERGE sink (atomic swap,
       crash-recoverable): the entities state gets only the rows link
       created (entity rows never change after creation; a batch that
       created none leaves it unrewritten), and the new singletons get
       canon rows of their own, so the canon map stays total over the
       entities table.

    Equivalent canonical STRUCTURE to a full recompute over all batches
    (property-tested); entity ids depend on arrival order, exactly like
    the reference's counter-assigned wallet ids. Returns the MERGE op
    counters per state table (DbUpdate.printStats analog).
    """
    from ..sources.merge import merge_upsert
    from . import canonicalize as canonmod

    if "://" in state_dir or state_dir.startswith("file:"):
        # the os.path.isdir state probes below would silently read a URI
        # path as "no existing state", reassign entity ids from scratch and
        # let merge_upsert's missing-target branch overwrite batch 1 —
        # silent state loss (ADVICE r4; the checkpoints.py r3 failure mode).
        # The POSIX merge sink is a documented Iceberg-MERGE stand-in
        # (sources/merge.py), so a remote state_dir is out of scope: fail
        # loudly before any work, exactly like the old _partition_rowcount
        # guard did.
        raise NotImplementedError(
            "incremental_update: URI state_dir is not supported by the "
            "local-POSIX merge sink (sources/merge.py docstring); pass a "
            "plain local path or swap in an Iceberg MERGE sink"
        )
    alias_dict = alias_dict if alias_dict is not None else link.default_alias_dict()
    ents_path = f"{state_dir}/entities"
    canon_path = f"{state_dir}/canon_map"

    existing_ents = spark.read.parquet(ents_path) if os.path.isdir(ents_path) else None
    extracted = extract.extract(new_transcripts).persist()
    canon = None
    try:
        mentions = extract.mentions_from(extracted)
        # ``created`` is a local relation: the entities merge below swaps
        # the state dir link read, and nothing reads that dir afterwards
        linked, created, _ = link.link_mentions(
            mentions, alias_dict, entities=existing_ents, spark=spark
        )
        # The batch edge list is consumed TWICE: connected_components
        # materializes it (via the contracted graph) and the incremental
        # update's new-node pass re-derives endpoints from it — without a
        # persist the whole mention→star-edge chain (groupBy-min + join +
        # distinct over the batch mentions) recomputes per consumer (~2 s
        # per 5k-conv batch measured; r6, guide §2.6 "pay for a stage
        # once"). Materialized lazily at CC's first action, released after
        # the canon checkpoint below.
        edges = canonmod.comention_edges(linked).persist()

        if os.path.isdir(canon_path):
            merged = canonmod.incremental_canon_update(spark.read.parquet(canon_path), edges)
        else:
            # no canon state yet: label every entity, stored or created
            ids = created.select("entity_id")
            if existing_ents is not None:
                ids = existing_ents.select("entity_id").unionByName(ids)
            merged = canonmod.canon_map(ids, edges)
        # total-ize: every stored entity already has a canon row, so only
        # created entities no edge reached (batch singletons) are missing
        # — they canonicalize to themselves, the coalesce canon_map performs
        singletons = created.select("entity_id").join(merged, "entity_id", "left_anti")
        canon = merged.unionByName(
            singletons.select("entity_id", F.col("entity_id").alias("canon_id"))
        ).localCheckpoint(eager=True)  # cuts the lineage to the canon state it swaps
        edges.unpersist()

        if existing_ents is not None and created.isEmpty():
            # entity rows never change after creation, so a batch that
            # created none leaves the entities state as it is, unrewritten
            # (``created`` is a local relation: isEmpty runs no job)
            canon_stats = merge_upsert(spark, canon_path, canon, ["entity_id"])
            ents_stats = {"inserted": 0, "updated": 0, "deleted": 0, "kept": rowcount(ents_path)}
        else:
            # Both state frames are fully materialized (a local relation and
            # the checkpoint above), so neither merge holds a lazy reference
            # to the other's target dir — the two upserts touch disjoint
            # paths and can overlap (~0.7 s of the smaller merge's job
            # latency hidden per batch, measured r6).
            ents_stats, canon_stats = overlap(
                lambda: merge_upsert(spark, ents_path, created, ["entity_id"]),
                lambda: merge_upsert(spark, canon_path, canon, ["entity_id"]),
            )
    finally:
        # both merges have returned: nothing reads the checkpoint any more
        if canon is not None:
            release(canon)
        extracted.unpersist()
    return {"entities": ents_stats, "canon_map": canon_stats}
