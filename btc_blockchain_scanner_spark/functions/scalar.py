"""Scalar function library — SURVEY.md §2.6 (F1-F10), all JVM-side Column
expressions (whole-stage-codegen'd; no Python in the hot path).

Reference analogs cited per function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# F7 synthetic composite key: reference packs (transaction_id, pos) into one
# 64-bit id as txId*100_000+pos (RunNeoLoader.java:293-295, NeoQueries.java:242-244).
POS_BASE = 100_000


def synth_key(parent_id: Column, pos: Column) -> Column:
    """64-bit synthetic edge key from a (parent, position) composite key."""
    return (parent_id.cast("long") * F.lit(POS_BASE) + pos.cast("long")).alias("synth_key")


def hex_id(col: Column) -> Column:
    """Hex encoding of a numeric/binary id (reference: util/Utils.java:99-153)."""
    return F.hex(col)


def from_fixed_point(amount: Column, scale: int = 8) -> Column:
    """Fixed-point integer → decimal units, e.g. satoshi → BTC
    (reference: RunNeoLoader.java:259 movePointLeft(8))."""
    return amount.cast("double") / F.lit(10.0**scale)


def type_from_id(id_col: Column, ranges: list[tuple[int, int, str]]) -> Column:
    """Recover a type tag from an id-range-partitioned id space
    (reference: BtcAddress.java:82-95 — P2PKH/P2SH/... ranges).

    ``ranges`` is a list of (lo_inclusive, hi_exclusive, tag).
    """
    expr = F.lit(None).cast("string")
    for lo, hi, tag in reversed(ranges):
        expr = F.when((id_col >= lo) & (id_col < hi), F.lit(tag)).otherwise(expr)
    return expr


def coalesce_ladder(*cols: Column) -> Column:
    """IFNULL(a, IFNULL(b, ...)) — reference DbQueryInput.java:52 (F8)."""
    return F.coalesce(*cols)


def status_ladder(has_spender: Column, has_address: Column) -> Column:
    """The spent-status rules of RunUpdateSpent.java:131-141 (M3) as a
    when-ladder: SPENT=1 if a spender exists, UNSPENDABLE=3 if no address,
    else UNSPENT=0. (OutputStatus enum: db/model/OutputStatus.java:22-28.)"""
    return (
        F.when(has_spender, F.lit(1))
        .when(~has_address, F.lit(3))
        .otherwise(F.lit(0))
    )
