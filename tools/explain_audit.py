"""Physical-plan audit: dump explain(formatted) for the headline queries and
check plan-quality invariants (pushed filters, broadcast joins where
expected, no Python row UDFs in hot paths). Writes PLANS.md.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

CHECKS = {
    # query → substrings that MUST appear in the physical plan
    "q01_pricing_summary": ["PushedFilters", "HashAggregate"],
    "p04_range_scan": ["PushedFilters: [IsNotNull(l_orderkey), GreaterThanOrEqual(l_orderkey,1000)"],
    "j07_region_revenue": ["BroadcastHashJoin"],
    "j05_semi_urgent": ["LeftSemi"],
    # decontamination: eval-side shingles broadcast under the size guard,
    # candidates come from the shingle equi-join — never a cross join
    "c01_decontamination": ["BroadcastHashJoin"],
    # per-key cap: the exact window partitions by the cap key
    "c02_source_cap_counts": ["hashpartitioning(lang"],
    "o02_top_revenue_orders": ["TakeOrderedAndProject"],
    "a02_last_ids": ["HashAggregate"],
    "t02_doc_quality": ["ReadSchema: struct<doc_id:bigint,text:string>"],
    "mm02_frame_sample": [],
    # two-phase id assignment: the row_number window must run over the
    # 256-way md5-prefix buckets, not a global single-partition sort
    "kg03_entity_ids": ["hashpartitioning(_b"],
    # the transcript extraction must be Arrow-vectorized Python, never
    # row-at-a-time (BatchEvalPython) — asserted via NEG below
    "kg10_transcript_triples": ["ArrowEvalPython"],
    # tags read-side join-back: the tag dim joins broadcast
    "kg12_tagged_nodes": ["BroadcastHashJoin"],
    # grouping-sets lattice runs as ONE Expand + aggregate, not 4 unioned
    # scans
    "a07_grouping_sets": ["Expand", "HashAggregate"],
    # (t07_dedup_groups is NOT audited here: its pair stage is t05's —
    # already asserted cartesian-free — and its CC stage returns a
    # materialized local relation on the fast path, so the final explain
    # would be a vacuous LocalTableScan.)
}

NEG_CHECKS = {
    # regexes that must NOT match the plan.
    # kg03: no row_number window sitting on a single-partition exchange —
    # the only SinglePartition exchange allowed in the linking plan is the
    # <=256-row bucket-count offset window (a sum(), not a row_number()).
    "kg03_entity_ids": [r"Exchange SinglePartition(?:(?!Exchange)[\s\S]){0,800}row_number\(\)"],
    # t05: candidate generation must never degenerate to a cross join
    # (t07 reuses this exact pair stage)
    "t05_ngram_jaccard_dups": [r"CartesianProduct"],
    # c01 candidates must come from the shingle equi-join, never a cross
    # join; c02's row_number must never sit on a single-partition exchange
    "c01_decontamination": [r"CartesianProduct"],
    "c02_source_cap_counts": [r"Exchange SinglePartition(?:(?!Exchange)[\s\S]){0,800}row_number\(\)"],
    # row-at-a-time Python would be the slow path everywhere
    "kg10_transcript_triples": [r"BatchEvalPython"],
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from btc_blockchain_scanner_spark.session import get_spark
    import btc_blockchain_scanner_spark.plans as plans

    spark = get_spark(master="local[4]", shuffle_partitions=4, app_name="explain")
    qs = plans.queries()

    out = ["# Physical plan audit (explain formatted)\n"]
    failures = []
    for name, required in CHECKS.items():
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        missing = [r for r in required if r not in plan]
        forbidden = [p for p in NEG_CHECKS.get(name, ()) if re.search(p, plan)]
        status = "OK" if not (missing or forbidden) else f"MISSING {missing} FORBIDDEN {forbidden}"
        if missing or forbidden:
            failures.append(name)
        print(f"{name}: {status}")
        # keep plans compact: strip the long footer of column refs
        head = re.split(r"\n\n\(1\) ", plan)[0]
        out.append(f"## {name} — {status}\n\n```\n{plan[:4000]}\n```\n")
        _ = head

    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"\n{len(failures)} plan check failures" + (f": {failures}" if failures else ""))
    spark.stop()


if __name__ == "__main__":
    main()
