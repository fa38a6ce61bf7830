"""MinHash + banded LSH as plain DataFrame ops (no MLlib dependency).

Used for (a) near-duplicate detection over documents and (b) fuzzy-surface
blocking in entity linking (north_star: "MinHash/LSH blocking plus a
broadcast alias dictionary").

Design: a MinHash permutation is ``min over shingles of (a_i * h(s) + b_i)
mod p`` with fixed odd constants a_i, b_i derived from the permutation
index — fully deterministic, computed with higher-order array functions
(JVM codegen, no Python). Banding groups the signature into bands of r
rows; two items collide if any band matches exactly → candidate pairs come
from a groupBy on (band_idx, band_hash), i.e. a single shuffle instead of a
quadratic self-join. This is the scale path: candidate generation is
O(items x bands), verification touches only colliding pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: (h % p) * a + b stays < 2^62 — no long overflow
# under ANSI arithmetic.
MERSENNE = (1 << 31) - 1


def _perm_consts(i: int) -> tuple[int, int]:
    # Deterministic "random" odd multiplier / offset per permutation.
    a = (0x9E3779B97F4A7C15 * (i + 1)) % MERSENNE | 1
    b = (0xC2B2AE3D27D4EB4F * (i + 1)) % MERSENNE
    return a, b


def _signature_from_base(base: Column, num_perm: int) -> Column:
    """array<long> shingle hashes → array<long> MinHash signature."""
    # closure factory: PySpark derives HOF arity from the Python signature,
    # so the lambda must stay unary (no default-arg captures)
    def make_perm(a: int, b: int):
        return lambda h: (h % MERSENNE * a + b) % MERSENNE

    sig = []
    for i in range(num_perm):
        a, b = _perm_consts(i)
        sig.append(F.array_min(F.transform(base, make_perm(a, b))))
    return F.array(*sig)


def band_hashes(sig: Column, num_bands: int, rows_per_band: int) -> Column:
    """Signature → array<long> of per-band hashes.

    Uses element_at per band slot instead of ``transform(slice(...))``:
    the slice+transform form re-evaluated the signature subtree per band
    under projection collapse (measured 12.3 s vs 0.6 s for 5000 docs x 8
    bands at sf0.1); element_at references are plain array lookups and
    produce byte-identical band hashes ("v1_v2_..." concat unchanged)."""
    bands = []
    for b in range(num_bands):
        parts = [
            F.element_at(sig, b * rows_per_band + j + 1).cast("string")
            for j in range(rows_per_band)
        ]
        bands.append(F.xxhash64(F.concat_ws("_", *parts)))
    return F.array(*bands)


def band_buckets(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    num_perm: int = 32,
    num_bands: int = 8,
) -> DataFrame:
    """Items → (_id, _band_idx, _band_hash) rows, one per band."""
    rows_per_band = max(1, num_perm // num_bands)
    # Materialization barriers between the expression stages: without them
    # CollapseProject inlines the shingle pipeline into every one of the
    # num_perm signature entries and again into every band hash — an
    # O(perms x bands) expression-duplication blowup (measured 300x slower).
    # A repartition exchange forces each intermediate array to be computed
    # exactly once; at scale the signature table is the thing you'd persist
    # anyway.
    base = df.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(shingles_col), lambda s: F.abs(F.xxhash64(s))).alias("_base"),
    ).repartition(F.col("_id"))
    sig = base.select(
        "_id", _signature_from_base(F.col("_base"), num_perm).alias("_sig")
    ).repartition(F.col("_id"))
    sigs = sig.select(
        "_id", band_hashes(F.col("_sig"), num_bands, rows_per_band).alias("_bands")
    )
    # _outer: a plain posexplode makes the optimizer infer a size(_bands) > 0
    # filter and push it below both barriers, so every signature was
    # computed twice (once in the filter); _bands is never empty, so the
    # rows are the same (2000 sf0.1 docs: 1.05 s → 0.45 s a bucket pass)
    return sigs.select("_id", F.posexplode_outer("_bands").alias("_band_idx", "_band_hash"))


def candidate_pairs(buckets: DataFrame) -> DataFrame:
    """Bucket rows → distinct (id_a, id_b) pairs (id_a < id_b) sharing a
    band: full within-bucket pairing, because a *candidate* relation must
    contain every colliding pair (verification prunes). Each bucket's ids
    are gathered once by a groupBy and paired in place, so the bucket
    lineage runs once without a persist; a self-join of the bucket rows
    ran it once per side (its two sides never share their exchange).
    Buckets are small by construction (band collisions); a pathological
    mega-bucket is capped by distinctness of the pair set."""
    ids = (
        buckets.groupBy("_band_idx", "_band_hash")
        .agg(F.collect_set("_id").alias("_ids"))
        .where(F.size("_ids") > 1)
    )
    return (
        ids.select(F.explode("_ids").alias("id_a"), "_ids")
        .select("id_a", F.explode(F.filter("_ids", lambda b: b > F.col("id_a"))).alias("id_b"))
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element string arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
