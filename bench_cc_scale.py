"""At-scale distributed-CC evidence: the distributed loop of
``operators/cc.py`` (forced with ``small_graph_threshold=0``) on the
bench's exact graph shape — hub star (40% of edges on one component) +
diameter-7 chains — at 5M/10M/20M edges, each cell in a FRESH JVM so
block-manager fill cannot leak across cells.

Correctness inside every cell: the synthetic graph's component minima
are known in closed form; full-graph mismatches must be 0.

Usage:
  python bench_cc_scale.py <n_edges_millions> [cpus]  # one cell
  python bench_cc_scale.py grid [cpus]                # full grid

One JSON line per cell:
  {"edges": ..., "wall_sec": ..., "rounds": ..., "mismatches": 0,
   "edges_per_sec": ...}

BENCH_CC_SCALE.json is the round-6 record (``local[32]``), taken when the
loop still had three round-storage modes; its ``mode`` field names them.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CPUS = int(sys.argv[2]) if len(sys.argv) > 2 else 32

# hub:chain ratio fixed at 2:3 (the bench's 5M shape, scaled)
HUB_FRAC_NUM, HUB_FRAC_DEN = 2, 5
CHAIN_BASE = 100_000_000  # chain ids disjoint from hub ids at any size


def build_edges(spark, n_edges: int):
    from pyspark.sql import functions as F

    n_hub = n_edges * HUB_FRAC_NUM // HUB_FRAC_DEN
    n_chain = n_edges - n_hub
    hub = spark.range(1, n_hub + 1).select(
        F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
    )
    chains = (
        spark.range(n_chain)
        .select((F.lit(CHAIN_BASE) + F.floor(F.col("id") / 7) * 8 + F.col("id") % 7).alias("src"))
        .withColumn("dst", F.col("src") + 1)
    )
    return hub.unionByName(chains).repartition(CPUS * 2), n_hub


def run_cell(n_edges: int) -> None:
    from pyspark.sql import functions as F

    from btc_blockchain_scanner_spark.operators.cc import connected_components
    from btc_blockchain_scanner_spark.session import get_spark

    spark = get_spark(
        master=f"local[{CPUS}]", shuffle_partitions=CPUS, app_name=f"cc_{n_edges}"
    )
    edges, n_hub = build_edges(spark, n_edges)
    st: dict = {}
    t0 = time.perf_counter()
    comp = connected_components(edges, small_graph_threshold=0, stats_out=st).persist()
    n_nodes = comp.count()
    wall = time.perf_counter() - t0

    want = F.when(F.col("node") <= n_hub, F.lit(0)).otherwise(
        F.col("node") - (F.col("node") - CHAIN_BASE) % 8
    )
    mism = comp.where(F.col("component") != want).count()
    comp.unpersist()
    print(
        json.dumps(
            {
                "edges": n_edges,
                "nodes": n_nodes,
                "wall_sec": round(wall, 1),
                "rounds": st.get("rounds"),
                "mismatches": mism,
                "edges_per_sec": round(n_edges / wall, 1),
                "cpus": CPUS,
            }
        ),
        flush=True,
    )
    spark.stop()


def grid() -> None:
    results = []
    for m in (5, 10, 20):
        # ADVICE r5: one hung/failed cell must not abort the grid or drop
        # completed cells from the saved JSON — record an error entry and
        # keep going; the file is always written.
        try:
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), str(m), str(CPUS)],
                capture_output=True, text=True, timeout=1800,
            )
        except subprocess.TimeoutExpired:
            err = {"edges": m, "error": "timeout after 1800s"}
            results.append(err)
            print(json.dumps(err), flush=True)
            continue
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        if line:
            results.append(json.loads(line[-1]))
            print(line[-1], flush=True)
        else:
            err = {"edges": m, "error": p.stderr[-400:]}
            results.append(err)
            print(json.dumps(err), flush=True)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_CC_SCALE.json"), "w") as f:
        json.dump({"cells": results, "cpus": CPUS, "note": "fresh JVM per cell"}, f, indent=1)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "grid":
        grid()
    else:
        run_cell(int(sys.argv[1]) * 1_000_000)
