"""Relational operator inventory — SURVEY.md §2.1-2.6 re-expressed as
declarative DataFrame plans over the TPC-H-ish test tables.

Each query names the reference operator(s) it covers (J/A/P/O/F codes from
SURVEY.md §2) in its docstring, and carries a DuckDB oracle.

Scale notes (100 TB mindset) are inline: which side broadcasts, where the
shuffle lands, why the aggregation is partial-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql import types as T

from ..sources.tables import load
from ..functions import scalar
from ..operators import cooccur
from .registry import query

DEC = T.DecimalType(28, 4)


def dsum(col, alias):
    """Order-independent float sum: per-row cast to DECIMAL(28,4) (exact,
    deterministic round-to-nearest), exact decimal sum, back to double.
    Matches the oracle's ``CAST(SUM(CAST(x AS DECIMAL(28,4))) AS DOUBLE)``
    exactly regardless of partial-aggregation order — no final rounding, so
    there is no round-at-boundary divergence between engines."""
    return F.sum(col.cast(DEC)).cast("double").alias(alias)


def _osum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,4))) AS DOUBLE) AS {alias}"


# ---------------------------------------------------------------------------
# Aggregations (A1-A6) + filters (P1-P2)
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_osum('l_quantity', 'sum_qty')},
           {_osum('l_extendedprice', 'sum_base_price')},
           {_osum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           round(AVG(l_quantity), 4) AS avg_qty,
           round(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship scan→filter→multi-agg (A1/A3 analog: NeoQueries.java:97
    consistency totals; P1 column pruning as in DbQueryOutput.java:47-48).

    Scale: filter + projection push into the parquet scan; the groupBy has
    4-6 groups so partial (map-side) aggregation reduces ~everything before
    the shuffle — this is shuffle-light at any scale.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "a01_lines_per_order",
    oracle="""
    SELECT l_orderkey, COUNT(*) AS n_lines, COUNT(DISTINCT l_partkey) AS n_parts
    FROM lineitem GROUP BY l_orderkey
    """,
)
def a01_lines_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 fan-out counts per parent key (reference: inputs/outputs per tx,
    DbQueryInput.java:43,95-97). Partial-agg before the shuffle."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines"), F.countDistinct("l_partkey").alias("n_parts")
    )


@query(
    "a02_last_ids",
    oracle="""
    SELECT (SELECT MAX(o_orderkey) FROM orders) AS last_order,
           (SELECT MAX(c_custkey) FROM customer) AS last_customer,
           (SELECT MAX(l_orderkey) FROM lineitem) AS last_li_order,
           (SELECT COUNT(*) FROM lineitem) AS n_lineitem
    """,
)
def a02_last_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 top-1/max-by-sort: reference finds resume points via
    `ORDER BY id DESC LIMIT 1` (DbQueryTransaction.java:43,170-184);
    declaratively this is just MAX — no sort, partial-agg only."""
    o = load(spark, sf_dir, "orders").agg(F.max("o_orderkey").alias("last_order"))
    c = load(spark, sf_dir, "customer").agg(F.max("c_custkey").alias("last_customer"))
    li = load(spark, sf_dir, "lineitem").agg(
        F.max("l_orderkey").alias("last_li_order"), F.count("*").alias("n_lineitem")
    )
    return o.crossJoin(c).crossJoin(li)


@query(
    "a04_multi_supplier_orders",
    oracle="""
    SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp
    FROM lineitem
    GROUP BY l_orderkey
    HAVING COUNT(DISTINCT l_suppkey) > 3
    """,
)
def a04_multi_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 group-by + having (reference: txs spanning >1 wallet,
    tests/RunUpdateWallets.java:166-176). countDistinct expands to a
    two-phase agg; the HAVING filter runs post-agg (Catalyst)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_supp"))
        .where(F.col("n_supp") > 3)
    )


@query(
    "a06_order_part_lists",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(DISTINCT l_partkey)), ',') AS part_list
    FROM lineitem
    GROUP BY l_orderkey
    HAVING COUNT(DISTINCT l_partkey) >= 4
    """,
)
def a06_order_part_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 in-app grouping → sorted distinct list (reference:
    RunUpdateWallets2.java:156-176 builds tx→{addr→wallet} maps;
    O4 `.distinct().sorted()` at :164,185). collect_set is a partial-friendly
    agg; the sorted list is emitted as a canonical string."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .where(F.size("parts") >= 4)
        .select(
            "l_orderkey",
            F.concat_ws(",", F.transform(F.col("parts"), lambda x: x.cast("string"))).alias(
                "part_list"
            ),
        )
    )


@query(
    "p02_filter_or_status",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    WHERE value > 50.0 OR event_type IN ('error', 'purchase')
    GROUP BY event_type
    """,
)
def p02_filter_or_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 disjunctive filter (reference: `WHERE O.address_id <> 0 OR
    O.spent <> 3`, RunUpdateSpent.java:65-68). The OR of two pushable
    predicates still pushes to the scan."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.where((F.col("value") > 50.0) | F.col("event_type").isin("error", "purchase"))
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
    )


@query(
    "p04_range_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
    FROM lineitem
    WHERE l_orderkey BETWEEN 1000 AND 1999
    """,
)
def p04_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/P4 id-range scan — the reference's batching primitive
    (`BETWEEN ? AND ?`, DbQueryTransaction.java:131-142). Range predicate
    pushes to parquet row-group pruning; at cluster scale this is partition
    pruning on the id/conv_id partition column."""
    li = load(spark, sf_dir, "lineitem")
    return li.where(F.col("l_orderkey").between(1000, 1999)).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )


# ---------------------------------------------------------------------------
# Joins (J1-J9)
# ---------------------------------------------------------------------------


@query(
    "j01_resolve_outpoint",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_lines,
           {_osum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
)
def j01_resolve_outpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 equi inner join on the fan-out key (reference: input→output
    outpoint resolution, DbQueryInput.java:45-50).

    Scale: both sides large → shuffle (sort-merge) join on the join key; at
    100 TB both tables should be bucketed by orderkey so this becomes a
    shuffle-free co-located join. AQE handles residual skew."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )


@query(
    "j02_left_coalesce",
    oracle="""
    SELECT COALESCE(n_name, 'UNKNOWN') AS nation_name, COUNT(*) AS n_orders
    FROM orders
    LEFT JOIN customer ON c_custkey = o_custkey AND c_acctbal > 0
    LEFT JOIN nation ON n_nationkey = c_nationkey
    GROUP BY COALESCE(n_name, 'UNKNOWN')
    """,
)
def j02_left_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+F8: chain of left joins with IFNULL-coalescing (reference: the
    4-way address-table join, DbQueryInput.java:51-59). The small dims
    broadcast; nulls flow through coalesce."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    joined = o.join(
        F.broadcast(c), (c.c_custkey == o.o_custkey) & (c.c_acctbal > 0), "left"
    ).join(F.broadcast(n), n.n_nationkey == c.c_nationkey, "left")
    return (
        joined.select(scalar.coalesce_ladder(F.col("n_name"), F.lit("UNKNOWN")).alias("nation_name"))
        .groupBy("nation_name")
        .count()
        .withColumnRenamed("count", "n_orders")
    )


@query(
    "j03_spent_flag",
    oracle="""
    SELECT o.o_orderkey,
           CASE WHEN EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
                THEN 1 ELSE 0 END AS has_lines
    FROM orders o
    """,
)
def j03_spent_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/P5 left-outer existence test → flag (reference: the spent-flag
    recompute joins outputs to inputs and tests NULL,
    RunUpdateSpent.java:65-68,121). Implemented as a left join against the
    pre-aggregated (distinct) key set — at scale the distinct collapses the
    probe side before the shuffle."""
    o = load(spark, sf_dir, "orders")
    li_keys = load(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    return o.join(li_keys, o.o_orderkey == li_keys.l_orderkey, "left").select(
        "o_orderkey",
        F.when(F.col("l_orderkey").isNotNull(), 1).otherwise(0).alias("has_lines"),
    )


@query(
    "j05_semi_urgent",
    oracle="""
    SELECT DISTINCT c_custkey FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
)
def j05_semi_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 semi join / IN-subquery (reference: related-address expansion,
    tests/RunUpdateWallets.java:77-128)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


@query(
    "j06_copart_pairs",
    oracle="""
    WITH per_order AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
    FROM per_order a JOIN per_order b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= 2
    """,
)
def j06_copart_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 co-occurrence pair generation — THE edge generator for
    canonicalization (reference: co-spent input self-join,
    tests/RunUpdateWallets.java:131-140).

    Kernel: when the (order, part) incidences fit the closure budget (16
    bytes a line), they are collected once and the parts sharing orders
    are counted by the one co-occurrence kernel
    (:func:`..operators.cooccur.pair_counts`, the same postings kernel as
    t05's n-gram Jaccard), on the driver while the bytes that kernel
    holds fit that budget too. Fallback above it: instead of a raw self-join (quadratic
    on hub orders), group by the order key, collect the distinct part
    set, and pair-expand within each group — SURVEY.md §2.3 J6 calls this
    out explicitly."""
    li = load(spark, sf_dir, "lineitem")
    counted = cooccur.pair_counts(li, "l_partkey", "l_orderkey", min_count=2)
    if counted is not None:
        return counted.select(
            F.col("id_a").alias("part_a"),
            F.col("id_b").alias("part_b"),
            F.col("n").alias("n_orders"),
        )
    sets = li.groupBy("l_orderkey").agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("parts"),
                    lambda a, i: F.transform(
                        F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                        lambda b: F.struct(a.alias("part_a"), b.alias("part_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .where(F.col("n_orders") >= 2)
    )


@query(
    "j07_region_revenue",
    oracle=f"""
    SELECT r_name,
           {_osum('l_extendedprice * (1 - l_discount)', 'revenue')},
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation   ON n_nationkey = c_nationkey
    JOIN region   ON r_regionkey = n_regionkey
    GROUP BY r_name
    """,
)
def j07_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 fact→dim chain (reference: output→address→wallet dimension join,
    DbQueryOutput.java:57-62). customer/nation/region broadcast — only the
    lineitem⋈orders join shuffles; Catalyst reorders the dim joins after
    the fact join."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "j09_reconcile_snapshots",
    oracle="""
    WITH a AS (SELECT o_custkey, COUNT(*) AS n FROM orders
               WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY o_custkey),
         b AS (SELECT o_custkey, COUNT(*) AS n FROM orders
               WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00' GROUP BY o_custkey)
    SELECT COALESCE(a.o_custkey, b.o_custkey) AS custkey,
           CASE WHEN a.o_custkey IS NULL THEN 'insert'
                WHEN b.o_custkey IS NULL THEN 'delete'
                WHEN a.n <> b.n THEN 'update'
                ELSE 'noop' END AS op
    FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
    WHERE NOT (a.n IS NOT NULL AND b.n IS NOT NULL AND a.n = b.n)
    """,
)
def j09_reconcile_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 diff/reconcile full-outer join emitting change ops (reference:
    MySQL↔Neo4j wallet reconcile, RunNeoUpdateWallets.java:200-235). The
    same shape backs the MERGE-based idempotent re-run (M4/M6)."""
    o = load(spark, sf_dir, "orders")
    a = (
        o.where(F.col("o_orderdate") < "1998-01-01 00:00:00")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_a"))
    )
    b = (
        o.where(F.col("o_orderdate") < "2000-01-01 00:00:00")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_b"))
    )
    j = a.withColumnRenamed("o_custkey", "ck_a").join(
        b.withColumnRenamed("o_custkey", "ck_b"), F.col("ck_a") == F.col("ck_b"), "full_outer"
    )
    return (
        j.select(
            F.coalesce(F.col("ck_a"), F.col("ck_b")).alias("custkey"),
            F.when(F.col("ck_a").isNull(), "insert")
            .when(F.col("ck_b").isNull(), "delete")
            .when(F.col("n_a") != F.col("n_b"), "update")
            .otherwise("noop")
            .alias("op"),
        ).where(F.col("op") != "noop")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / set ops (O1-O4) + windows
# ---------------------------------------------------------------------------


@query(
    "o02_top_revenue_orders",
    oracle=f"""
    WITH rev AS (
      SELECT l_orderkey,
             {_osum('l_extendedprice * (1 - l_discount)', 'revenue')}
      FROM lineitem GROUP BY l_orderkey)
    SELECT l_orderkey, revenue FROM rev
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
)
def o02_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2 global top-N with deterministic tiebreak (reference: LIMIT
    samples, NeoQueries.java:98-102). Spark plans TakeOrderedAndProject —
    no full sort, each partition keeps N."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "o03_union_nation_keys",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def o03_union_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 UNION-distinct across entity tables (reference: wallet ids across
    the 4 address tables, DbQueryWallet.java:43-47)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@query(
    "w01_top3_per_supplier",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber, rn FROM (
      SELECT l_suppkey, l_orderkey, l_linenumber,
             ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      FROM lineitem)
    WHERE rn <= 3
    """,
)
def w01_top3_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group (reference has no window functions — its
    closest is ORDER BY pos within a tx, DbQueryInput.java:42; SURVEY.md
    §2.4 notes Window.partitionBy as the mapping). Deterministic tiebreak
    on the full unique key."""
    li = load(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "rn")
    )


@query(
    "w02_running_user_value",
    oracle="""
    SELECT event_id, user_id,
           round(SUM(CAST(value AS DECIMAL(28,4)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE, 3)
             AS running_value
    FROM events
    """,
)
def w02_running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate per key under stable event-time ordering — the
    windowed analog of the reference's per-tx positional ordering
    (SURVEY.md §2.4). Decimal accumulation keeps the prefix sums exact."""
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum(F.col("value").cast(DEC)).over(w).cast("double"), 3).alias("running_value"),
    )


@query(
    "w03_sessionize",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR epoch_us(ts) -
                          epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                          > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events)
    SELECT user_id,
           CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_idx,
           event_id
    FROM g
    """,
)
def w03_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + cumulative flag-sum) — the batch
    equivalent of a session window (SURVEY.md §2.8)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    lag_ts = F.lag("ts").over(w)
    # ts is TIMESTAMP_NTZ in parquet; cast to session-UTC timestamp for epoch micros.
    micros = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    new_sess = F.when(
        lag_ts.isNull() | ((micros(F.col("ts")) - micros(lag_ts)) > 1_800_000_000), 1
    ).otherwise(0)
    return ev.withColumn("new_sess", new_sess).select(
        "user_id", F.sum("new_sess").over(cum).cast("long").alias("session_idx"), "event_id"
    )


@query(
    "e01_hourly_event_rollup",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           COUNT(*) AS n,
           {_osum('value', 'total_value')}
    FROM events
    GROUP BY 1, 2
    """,
)
def e01_hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup over event time — the batch shape of a
    streaming windowed agg (SURVEY.md §2.8)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), dsum(F.col("value"), "total_value"))
    )


@query(
    "e02_latest_event_per_user",
    oracle="""
    SELECT user_id, event_id FROM (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def e02_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert/last-writer-wins dedup (reference: `ON DUPLICATE KEY UPDATE`,
    DbQueryOutput upsert S10). At scale this is the standard
    row_number-over-key compaction before a MERGE write."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).select("user_id", "event_id")
    )


@query(
    "f01_scalar_showcase",
    oracle="""
    SELECT l_orderkey * 100000 + l_linenumber AS synth_key,
           hex(l_orderkey) AS hex_key,
           md5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)) AS intern,
           CAST(FLOOR(l_extendedprice * 100) AS DOUBLE) / CAST(100000000 AS DOUBLE)
             AS amount_units,
           CASE WHEN l_partkey < 500 THEN 'p2pkh'
                WHEN l_partkey < 1000 THEN 'p2sh'
                WHEN l_partkey < 1500 THEN 'p2wpkh'
                ELSE 'p2wsh' END AS key_type
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
)
def f01_scalar_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function suite F1/F5/F6/F7 (hex codec Utils.java:99-153;
    synth key RunNeoLoader.java:293-295; satoshi→BTC RunNeoLoader.java:259;
    type-from-id BtcAddress.java:82-95) — all codegen'd Column exprs."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    amount_sat = F.floor(F.col("l_extendedprice") * 100)
    return li.select(
        scalar.synth_key(F.col("l_orderkey"), F.col("l_linenumber")),
        scalar.hex_id(F.col("l_orderkey")).alias("hex_key"),
        F.md5(F.concat_ws(":", F.col("l_orderkey"), F.col("l_linenumber"))).alias("intern"),
        scalar.from_fixed_point(amount_sat, 8).alias("amount_units"),
        scalar.type_from_id(
            F.col("l_partkey"),
            [(0, 500, "p2pkh"), (500, 1000, "p2sh"), (1000, 1500, "p2wpkh"), (1500, 1 << 62, "p2wsh")],
        ).alias("key_type"),
    )


@query(
    "q03_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {_osum('l_extendedprice * (1 - l_discount)', 'revenue')},
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → grouped revenue →
    top-N. The c_mktsegment filter prunes the broadcast side before the
    join; date filters push to both scans."""
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-03-15 00:00:00")
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1998-03-15 00:00:00")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "m03_order_status_ladder",
    oracle="""
    SELECT o.o_orderkey,
           CASE WHEN ship.l_orderkey IS NOT NULL THEN 1
                WHEN o.o_totalprice <= 0 THEN 3
                ELSE 0 END AS status
    FROM orders o
    LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem
               WHERE l_returnflag = 'R') ship
      ON ship.l_orderkey = o.o_orderkey
    """,
)
def m03_order_status_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 status recompute: left join + when-ladder (reference: spent-flag
    rules, RunUpdateSpent.java:131-141). In production this select feeds a
    MERGE INTO / insert-overwrite of the status column."""
    o = load(spark, sf_dir, "orders")
    returned = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
    )
    j = o.join(returned, o.o_orderkey == returned.l_orderkey, "left")
    return j.select(
        "o_orderkey",
        scalar.status_ladder(
            F.col("l_orderkey").isNotNull(), F.col("o_totalprice") > 0
        ).alias("status"),
    )
