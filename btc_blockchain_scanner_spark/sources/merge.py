"""MERGE-shaped upsert sink over parquet (Iceberg `MERGE INTO` stand-in).

Reference analogs: the upsert sink `INSERT ... ON DUPLICATE KEY UPDATE`
(DbUpdateOutput.java:47,228-231, SURVEY.md S10), the idempotent graph sink
(NeoQueries.java:64-75, S13), and the safe-mode reconcile diff
(RunFullScan.java:254-266 / RunNeoUpdateWallets.java:200-235, M4/M6).

This container has no Iceberg runtime jars, so the same semantics are
implemented as read-target → full-outer reconcile → atomic rewrite. On a
real deployment each function body collapses to one `MERGE INTO`
statement; callers are storage-agnostic. The reconcile plan (full-outer
join on the key, when-ladder op column) is EXACTLY j09/M6 — this is the
write-side of that read-side operator.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _atomic_swap(df: DataFrame, target: str) -> None:
    """Write to a sibling temp dir, then swap — readers never see a partial
    table (Iceberg snapshot-commit stand-in).

    NOT fully atomic and LOCAL-POSIX-ONLY: the swap is two renames, so a
    crash between them leaves only ``<target>._old`` (no target); and
    os.rename does not span object stores. On a real deployment this whole
    function IS an Iceberg snapshot commit. :func:`_recover_swap` restores
    a leftover ``._old`` on the next call, so a mid-swap crash is a retry,
    not data loss.
    """
    parent = os.path.dirname(target.rstrip("/"))
    tmp = tempfile.mkdtemp(prefix="_merge_", dir=parent or ".")
    df.write.mode("overwrite").parquet(tmp)
    back = target.rstrip("/") + "._old"
    if os.path.isdir(target):
        # A crash after installing the new target but before the rmtree
        # below leaves a stale ``._old`` alongside a healthy target;
        # _recover_swap deliberately ignores that state (target exists), so
        # clear it here or this os.rename fails with ENOTEMPTY forever.
        shutil.rmtree(back, ignore_errors=True)
        os.rename(target, back)
    os.rename(tmp, target)
    shutil.rmtree(back, ignore_errors=True)


def _recover_swap(target: str) -> None:
    """Crash recovery: if a previous swap died after renaming target away
    but before installing the new table, restore the backup."""
    back = target.rstrip("/") + "._old"
    if os.path.isdir(back) and not os.path.isdir(target):
        os.rename(back, target)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    delete_missing: bool = False,
) -> dict:
    """MERGE INTO target USING updates ON keys
       WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN INSERT
       [, WHEN NOT MATCHED BY SOURCE THEN DELETE].

    Updates must be unique per key (enforced). Returns op counters
    (inserted/updated/deleted/kept) — the DbUpdate.printStats analog. A
    matched key counts as updated only when the merge changes one of its
    values (null-safe); otherwise it is kept, as MySQL counts affected
    rows for ``ON DUPLICATE KEY UPDATE`` (the reference's sink, S10).
    """
    if "://" in target_path or target_path.startswith("file:"):
        # this sink's existence probe / atomic swap are os.path/os.rename —
        # a URI target would read as "missing" and be overwritten from
        # scratch (the incremental_update state-loss mode, ADVICE r4)
        raise NotImplementedError(
            "merge_upsert is the local-POSIX Iceberg-MERGE stand-in; URI "
            "targets need a real Iceberg catalog (module docstring)"
        )
    _recover_swap(target_path)

    if not os.path.isdir(target_path):
        counters = _op_counters(updates.withColumn("_op", F.lit("insert")), key_cols)
        updates.write.mode("overwrite").parquet(target_path)
        return counters

    target = spark.read.parquet(target_path)
    val_cols = [c for c in target.columns if c not in key_cols]

    t = target.alias("t")
    u = updates.alias("u")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"u.{k}")) for k in key_cols]
    joined = t.join(u, cond, "full_outer")

    t_key = F.col(f"t.{key_cols[0]}")
    u_key = F.col(f"u.{key_cols[0]}")
    values = {c: F.coalesce(F.col(f"u.{c}"), F.col(f"t.{c}")) for c in val_cols}
    same = F.lit(True)
    for c, v in values.items():
        same = same & v.eqNullSafe(F.col(f"t.{c}"))
    op = (
        F.when(t_key.isNull(), F.lit("insert"))
        .when(u_key.isNull(), F.lit("delete") if delete_missing else F.lit("keep"))
        .when(same, F.lit("same"))
        .otherwise(F.lit("update"))
    )
    merged = joined.select(
        op.alias("_op"),
        *[F.coalesce(F.col(f"u.{k}"), F.col(f"t.{k}")).alias(k) for k in key_cols],
        *[v.alias(c) for c, v in values.items()],
    ).persist()

    try:
        counters = _op_counters(merged, key_cols)
        out = merged.where(F.col("_op") != "delete").drop("_op")
        _atomic_swap(out, target_path)
    finally:
        merged.unpersist()
    return counters


def _op_counters(merged: DataFrame, key_cols: list[str]) -> dict:
    """Op counters of a merge plan (an ``_op`` column per output row) and
    the unique-update-key check, in ONE aggregate; raises before the caller
    writes anything.

    Rows carried by an update (insert/update/same — a matched key whose
    values the merge leaves as they are) must have distinct keys. The
    distinct count sees every other row as one null group, so its shuffle
    scales with the updates, not the target."""
    ops = {
        "inserted": ["insert"],
        "updated": ["update"],
        "deleted": ["delete"],
        "kept": ["keep", "same"],
    }
    from_updates = F.col("_op").isin("insert", "update", "same")
    r = merged.agg(
        *[F.count(F.when(F.col("_op").isin(*o), 1)).alias(name) for name, o in ops.items()],
        F.count(F.when(from_updates, 1)).alias("_rows"),
        F.count_distinct(F.when(from_updates, F.struct(*key_cols))).alias("_keys"),
    ).collect()[0]
    if r["_rows"] != r["_keys"]:
        raise ValueError("updates contain duplicate keys — dedup before merging")
    return {name: r[name] for name in ops}
