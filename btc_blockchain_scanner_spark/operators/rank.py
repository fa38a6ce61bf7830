"""Scalable deterministic dense-id assignment (two-phase bucketed rank).

Reference analog M1 (SURVEY.md §2.7): DbCachedAddressOne.getOrAdd:91-115
assigns the next id from a single in-memory counter — a single-writer
bottleneck the reference accepts because it runs on one box. The naive
Spark translation (``row_number() over (order by md5(key))`` with no
partitionBy) funnels EVERY key through one task — the round-1 scale
anti-pattern flagged in VERDICT.md ("single-partition global windows").

Two-phase design that yields BYTE-IDENTICAL ids to the global rank:

1. bucket = integer value of the first 2 hex chars of md5(key) — 256
   buckets. Because hex-string ordering is most-significant-prefix-first,
   *global* ORDER BY md5 is exactly (bucket ASC, md5 ASC) — the bucket
   split loses nothing.
2. ``row_number() over (partition by bucket order by md5)`` — a parallel
   window, 1/256th of the data per task.
3. exclusive cumulative bucket counts (a ≤256-row aggregate, broadcast
   back) turn within-bucket ranks into global ranks.

So the id spec is unchanged ("rank of md5(key) over all keys, plus
offset") and all existing oracles (``dense_rank() OVER (ORDER BY
md5(surface))`` in DuckDB) keep matching; only the physical plan changed.
Determinism across parallelism levels follows from md5 being data-only.

Assumes distinct keys (callers rank distinct surface/entity-key sets), so
row_number == dense_rank; md5 collisions between distinct keys are the
only caveat and are vanishingly improbable (2^-64 birthday scale here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def ranked_by_md5(
    df: DataFrame,
    key_col: str,
    id_col: str = "entity_id",
    offset: int = 0,
) -> DataFrame:
    """Append ``id_col`` = offset + rank of md5(key_col) among all rows.

    Ids are dense (offset+1..offset+n), deterministic at any parallelism,
    and identical to ``row_number() over (order by md5(key_col))`` — but
    computed with no single-partition exchange (see module docstring).
    ``id_col`` is LONG; callers cast down if they store int.
    """
    d = df.withColumn("_m", F.md5(F.col(key_col))).withColumn(
        "_b", F.conv(F.substring(F.col("_m"), 1, 2), 16, 10).cast("int")
    )
    w = W.partitionBy("_b").orderBy("_m")
    ranked = d.withColumn("_rn", F.row_number().over(w))
    counts = ranked.groupBy("_b").agg(F.count("*").alias("_c"))
    # Exclusive prefix-sum over <= 256 rows — the only global window left,
    # and it runs on the tiny bucket-count table, not the data.
    woff = W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
    offs = counts.withColumn("_off", F.coalesce(F.sum("_c").over(woff), F.lit(0)))
    return (
        ranked.join(F.broadcast(offs.select("_b", "_off")), "_b")
        .withColumn(id_col, F.col("_rn") + F.col("_off") + F.lit(offset).cast("long"))
        .drop("_m", "_b", "_rn", "_off", "_c")
    )
