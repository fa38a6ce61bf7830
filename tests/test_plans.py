"""Physical-plan invariants of the headline queries at sf0.01: filters
pushed into the scan, broadcast joins where expected, the shapes chosen
for hot paths (Arrow-batched Python, bucketed windows), and no cross
joins or single-partition windows where those would not scale."""

import io
import re
from contextlib import redirect_stdout
from pathlib import Path

import pytest

import btc_blockchain_scanner_spark.plans as plans

# query → substrings that MUST appear in the formatted physical plan
REQUIRED = {
    "q01_pricing_summary": ["PushedFilters", "HashAggregate"],
    "p04_range_scan": ["PushedFilters: [IsNotNull(l_orderkey), GreaterThanOrEqual(l_orderkey,1000)"],
    "j07_region_revenue": ["BroadcastHashJoin"],
    "j05_semi_urgent": ["LeftSemi"],
    # decontamination: the train side streams through one mapInPandas
    # against the broadcast eval postings
    "c01_decontamination": ["MapInPandas"],
    # per-key cap: the exact window partitions by the cap key
    "c02_source_cap_counts": ["hashpartitioning(lang"],
    "o02_top_revenue_orders": ["TakeOrderedAndProject"],
    "a02_last_ids": ["HashAggregate"],
    "t02_doc_quality": ["ReadSchema: struct<doc_id:bigint,text:string>"],
    "mm02_frame_sample": [],
    # id assignment: the <=10 distinct surfaces are ranked on the driver
    # and come back as a local relation, with no window or sort at all
    "kg03_entity_ids": ["LocalTableScan"],
    # the transcript extraction is Arrow-vectorized Python, never
    # row-at-a-time (BatchEvalPython, banned below)
    "kg10_transcript_triples": ["ArrowEvalPython"],
    # tags read-side join-back: the tag dim joins broadcast
    "kg12_tagged_nodes": ["BroadcastHashJoin"],
    # the grouping-sets lattice runs as ONE Expand + aggregate, not 4
    # unioned scans
    "a07_grouping_sets": ["Expand", "HashAggregate"],
    # t05's pair stage is not a cross join (banned below)
    "t05_ngram_jaccard_dups": [],
    # exact cosine: the streamed side runs the numpy block kernel against
    # the collected side, never a cross join
    "t08_emb_top1_neighbor": ["MapInPandas"],
    "t10_emb_dup_exact": ["MapInPandas"],
}

# a row_number window sitting on a single-partition exchange
SINGLE_PARTITION_WINDOW = r"Exchange SinglePartition(?:(?!Exchange)[\s\S]){0,800}row_number\(\)"

# query → regexes that must NOT match the plan
FORBIDDEN = {
    "kg03_entity_ids": [SINGLE_PARTITION_WINDOW],
    "c02_source_cap_counts": [SINGLE_PARTITION_WINDOW],
    # pair candidates never degenerate to a cross join
    "t05_ngram_jaccard_dups": ["CartesianProduct"],
    "c01_decontamination": ["CartesianProduct"],
    "t08_emb_top1_neighbor": ["CartesianProduct"],
    "t10_emb_dup_exact": ["CartesianProduct"],
    # row-at-a-time Python would be the slow path
    "kg10_transcript_triples": ["BatchEvalPython"],
}


@pytest.mark.parametrize("name", sorted(REQUIRED))
def test_physical_plan(spark, sf_dir, name):
    buf = io.StringIO()
    with redirect_stdout(buf):
        plans.queries()[name](spark, str(Path(sf_dir).with_name("sf0.01"))).explain("formatted")
    plan = buf.getvalue()
    assert [r for r in REQUIRED[name] if r not in plan] == []
    assert [p for p in FORBIDDEN.get(name, ()) if re.search(p, plan)] == []
