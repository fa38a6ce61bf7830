"""The one driver budget for every closure kernel, and its bounded collect.

The reference keeps its wallet and address passes on in-memory structures
of a fixed size. Here that is "collect a bounded side once, broadcast it,
run a numpy kernel in ``mapInPandas``, else fall back to a distributed
join"; every operator that collects such a side does it through this
module, so there is one budget and one collect idiom (Arrow, no ``Row``
objects). Read :data:`BUDGET_BYTES` at call time; tests patch it to 0 to
force every fallback.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Bytes one collected closure side may take on the driver.
BUDGET_BYTES = 64 * 1024 * 1024


def collect_bounded(df: DataFrame, cap: int, weight: Column | None = None) -> pa.Table | None:
    """``df`` as an Arrow table, or None when it is over ``cap``.

    Without ``weight``, ``cap`` counts rows: one ``limit(cap + 1)`` job.
    With a ``weight`` column, ``cap`` bounds its sum: one aggregate job,
    then the collect only when the sum is at most ``cap``."""
    if weight is None:
        t = df.limit(cap + 1).toArrow()
        return None if t.num_rows > cap else t
    total = df.agg(F.sum(weight)).collect()[0][0] or 0
    return df.toArrow() if total <= cap else None


def vectors(df: DataFrame, id_col: str, vec_col: str, dim: int):
    """``(ids, M)``: the int64 ids and the float64 row matrix of an array
    column, or None when the matrix would take more than ``BUDGET_BYTES``.
    The collect stops at the rows that fit for ``dim``-wide vectors; a
    matrix of wider vectors than declared is refused after it. Raises
    ValueError when the vectors differ in length."""
    t = collect_bounded(df.select(id_col, vec_col), BUDGET_BYTES // (8 * max(dim, 1)))
    if t is None:
        return None
    vec = t.column(1).combine_chunks()
    lens = pc.list_value_length(vec).to_numpy(zero_copy_only=False)
    if len(lens) and (lens != lens[0]).any():
        raise ValueError(f"vectors: {vec_col} rows differ in length")
    width = int(lens[0]) if len(lens) else dim
    flat = pc.list_flatten(vec).to_numpy(zero_copy_only=False)
    M = flat.astype(np.float64).reshape(t.num_rows, width)
    if M.nbytes > BUDGET_BYTES:
        return None
    return t.column(0).to_numpy().astype(np.int64), M


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session default parallelism when
    the input has fewer partitions.

    Python/Arrow stages (shingle UDF, GEMM mapInPandas) parallelize by
    input split, and a small single-file parquet table opens with only a
    couple of splits (``spark.sql.files.openCostInBytes`` pads small files
    to 4 MB, guide §6) — at sf1.0 the 5.7 MB documents table scanned as 2
    splits, so every downstream Arrow UDF ran on 2 of 32 cores. The
    repartition shuffles only the narrow projected columns; at cluster
    scale inputs span many files and this is a no-op."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df
