"""Extended coverage: JSON extraction, rollup/cube, CASE-pivot, BFS closure,
multimodal feature extraction.

Rollup/cube/pivot don't exist in the reference (SURVEY.md §2.4 "no grouping
sets/cube/rollup") — they're engine-completeness additions a Spark user
expects; each still carries a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import graph, multimodal
from ..sources.tables import load
from . import synth
from .registry import query


@query(
    "p05_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k
    FROM events GROUP BY event_type
    """,
)
def p05_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction from a JSON string column (engine
    completeness; the reference stores bit-flags instead — input_special,
    SURVEY.md §1.2). get_json_object is JVM-side, no UDF."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select("event_type", F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").cast("long").alias("total_k"))
    )


@query(
    "a07_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                            (l_linestatus), ())
    """,
)
def a07_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets lattice over two dimensions — the full CUBE set
    ((a,b),(a),(b),()), which is a strict superset of ROLLUP's
    ((a,b),(a),()): one driver row verifies both shapes (VERDICT r3
    item 5; r2 had rollup-only here with cube rotated out under the
    50-row cap). Spark's cube() IS GROUPING SETS of the full lattice —
    subtotal/grand-total rows carry NULL group keys on both engines."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


@query(
    "o04_pivot_flag_status",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled
    FROM lineitem GROUP BY l_returnflag
    """,
)
def o04_pivot_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via conditional aggregation (F9 SUM(IF(...)) pattern,
    tests/RunUpdateWallets.java:167)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_linestatus") == "O", 1).otherwise(0)).cast("long").alias("n_open"),
        F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0)).cast("long").alias("n_filled"),
    )


@query(
    "g01_bfs_closure",
    oracle="""
    WITH RECURSIVE d AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS m FROM lineitem),
    gm AS (SELECT g, MIN(m) AS gmin FROM d GROUP BY g),
    e0 AS (SELECT DISTINCT gmin AS src, m AS dst FROM d JOIN gm USING (g) WHERE m <> gmin),
    und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    walk(node, hops) AS (
      SELECT node, 0 FROM (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) s(node)
      UNION
      SELECT u.dst, w.hops + 1 FROM walk w JOIN und u ON u.src = w.node WHERE w.hops < 3)
    SELECT node, CAST(MIN(hops) AS INT) AS hops FROM walk GROUP BY node
    """,
)
def g01_bfs_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure from hub parts over the co-order graph — the
    related-address BFS (db/DbQueries.java:39-64). Iterative frontier join
    with visited pruning; the oracle is an independent WITH RECURSIVE
    min-hop walk over the same star edges (kg04 pattern)."""
    li = load(spark, sf_dir, "lineitem")
    from ..operators.cc import pair_edges_from_groups

    edges = pair_edges_from_groups(li.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey")
    sources = spark.createDataFrame([(0,), (1,)], "node long")
    # edges_distinct: pair_edges_from_groups output is already dedup'd —
    # skips a full shuffle of the 9M-row undirected edge list (r6)
    return graph.bfs_reachable(edges, sources, max_hops=3, edges_distinct=True)


_MM_N = 200  # asset count is sf-independent; oracle path must match


@query(
    "mm01_asset_features",
    oracle=f"""
    SELECT asset_id, kind, sha256(CAST(payload AS VARCHAR)) AS payload_sha,
           CAST(octet_length(payload) AS INT) AS n_bytes
    FROM read_parquet('{synth.assets_path(_MM_N)}/*.parquet')
    """,
)
def mm01_asset_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction: binary payload → float vector via
    Arrow-batched mapInPandas (deterministic stub decode; see
    operators/multimodal.py). The metadata outputs (payload sha / byte
    count) are oracle-checked over the materialized asset table; the
    feature vector itself is pytest-verified (stub decode)."""
    assets = synth.materialized_assets(spark, n=_MM_N)
    return multimodal.extract_features(assets, dim=16).drop("feature").withColumn(
        "n_bytes", F.col("n_bytes").cast("int")
    )


@query(
    "mm02_frame_sample",
    oracle=f"""
    SELECT asset_id, CAST(u.f AS INT) AS frame_ts_ms
    FROM read_parquet('{synth.assets_path(_MM_N)}/*.parquet'),
         unnest(range(0, meta.duration_ms + 1, 10000)) AS u(f)
    WHERE kind = 'video'
    """,
)
def mm02_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling grid from typed metadata only — the payload
    column never leaves the scan (column pruning on binary)."""
    assets = synth.materialized_assets(spark, n=_MM_N)
    return multimodal.frame_sample(assets, every_ms=10000)
