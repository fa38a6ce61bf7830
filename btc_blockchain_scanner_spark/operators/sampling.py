"""Deterministic per-key sampling (c02's per-source cap).

Training-data pipelines need samples that do not depend on row order,
partitioning, or a seed stream — the same determinism contract as the id
assignment (operators/rank.py): every decision is a pure function of the
row's id.

``df.sample()`` / ``randomSplit()`` are NOT that: they draw from a
per-partition seeded stream, so the selected rows change with partitioning
— a repartitioned rerun of a 10^12-turn job would silently yield a
different training set. Here the choice follows ``xxhash64(id, 'cap')``
mapped to a unit interval; re-runs, resumes, and any parallelism give the
same rows (tested across shuffle-partition settings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def per_key_cap(
    df: DataFrame, key_col: str, n: int, id_col: str, oversample: int = 8
) -> DataFrame:
    """Keep a deterministic uniform sample of at most ``n`` rows per key —
    the per-source frequency cap a pretraining mix uses against
    over-represented sources (crawl dumps, boilerplate-heavy domains).

    Which rows survive: the ``n`` rows with the smallest
    ``xxhash64(id, 'cap')`` per key — a uniform, order/partitioning-
    independent choice.

    Scale shape: a naive ``row_number() over (partition by key order by
    hash)`` sorts EVERY row of a hot key inside one task — the hub-skew
    trap (PERFORMANCE.md). Here a hash-threshold pre-filter first bounds
    each key to ~``oversample * n`` expected survivors (the hash mapped
    to [0, 1) and thresholded per key at ``oversample * n / count``), and
    the exact window runs over that
    bounded set. Exactness guard: a key whose pre-filter (improbably)
    kept fewer than min(n, count) rows is re-capped from the full data via
    a semi-join fallback — the result is ALWAYS exactly the global top-n-
    by-hash (property-tested), never an approximation.
    """
    from pyspark.sql import Window as W

    h = (
        F.shiftrightunsigned(F.xxhash64(F.col(id_col), F.lit("cap")), 11).cast("double")
        / float(2**53)
    )
    counts = df.groupBy(key_col).agg(F.count("*").alias("_cnt"))
    frac = F.least(F.lit(1.0), F.lit(float(oversample * n)) / F.col("_cnt"))
    d = df.join(F.broadcast(counts.select(key_col, frac.alias("_f"), "_cnt")), key_col)
    pre = d.where(h < F.col("_f"))

    w = W.partitionBy(key_col).orderBy(h.asc(), F.col(id_col).asc())
    capped = pre.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= n)

    # exactness guard: any key whose pre-filter under-sampled re-runs the
    # exact cap over its full rows (rare by Chernoff at oversample=8; the
    # fallback is a bounded semi-joined subset, not a full-data window)
    kept = capped.groupBy(key_col).agg(F.count("*").alias("_k"), F.first("_cnt").alias("_c"))
    deficient = kept.where(F.col("_k") < F.least(F.lit(n), F.col("_c"))).select(key_col)
    missing = counts.join(kept, key_col, "left_anti").select(key_col)  # all rows filtered
    bad_keys = deficient.unionByName(missing)
    ok = capped.join(F.broadcast(bad_keys), key_col, "left_anti")
    fb = (
        d.join(F.broadcast(bad_keys), key_col, "left_semi")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n)
    )
    return ok.unionByName(fb).drop("_rn", "_f", "_cnt")

