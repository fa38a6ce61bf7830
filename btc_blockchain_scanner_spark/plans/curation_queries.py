"""Driver-verified curation-layer queries (VERDICT r4 item 1).

The r4 round added the corpus-curation operators (operators/sampling.py,
dedup.cross_contamination) with pytest-only
evidence; these rows put the two oracle-expressible stages under the
driver's DuckDB gate, the same way the reference runs its audit queries
against live data instead of trusting the library (DbQueryWallet.java:48-70):

* c01 — benchmark decontamination: the exact (train_id, eval_id,
  shared-shingle count) pair relation over a deterministic eval split.
  DuckDB re-derives it brute-force with list_intersect over the same
  word-3-gram shingles (the t05 shingle expression).
* c02 — per-key frequency cap: per-language survivor/dropped counts after
  ``per_key_cap``. The xxhash-selected WINNERS aren't reproducible in
  DuckDB, but the cap's counting contract — exactly ``least(n, count)``
  survivors per key, never fewer (the exactness guard's whole point) — is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, sampling
from ..sources.tables import load
from .registry import query

# word-3-gram shingle expression — identical to the t05/t07 oracle twins of
# functions.text.word_shingles (distinct shingles, space-joined tokens)
_D_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
_D_SHINGLES = f"""
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len({_D_TOKS}) - 1, 1)),
               i -> array_to_string(({_D_TOKS})[i:i+2], ' '))) AS sh
      FROM documents
      WHERE len({_D_TOKS}) >= 3"""


@query(
    "c01_decontamination",
    oracle=f"""
    WITH s AS ({_D_SHINGLES})
    SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
           CAST(len(list_intersect(t.sh, e.sh)) AS BIGINT) AS shared_shingles
    FROM s t JOIN s e ON t.doc_id % 20 <> 0 AND e.doc_id % 20 = 0
    WHERE len(list_intersect(t.sh, e.sh)) >= 3
    """,
)
def c01_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination under the oracle gate: eval split = every
    20th doc (deterministic, expressible on both sides), train = the rest;
    emit every contaminated (train, eval) pair with its EXACT shared
    distinct-shingle count (operators/dedup.cross_contamination — the
    shared-shingle equi-join with arithmetic overlap, never a cross join).
    The oracle brute-forces the same relation with list_intersect, so a
    green row pins the overlap arithmetic, not just the pair set.
    min_shared=3 yields a non-trivial pair set on the testdata's planted
    near-dups (12 pairs at sf0.01)."""
    d = load(spark, sf_dir, "documents")
    evalset = d.where(F.col("doc_id") % 20 == 0)
    train = d.where(F.col("doc_id") % 20 != 0)
    return dedup.cross_contamination(train, evalset, n=3, min_shared=3)


@query(
    "c02_source_cap_counts",
    oracle="""
    SELECT lang,
           CAST(least(70, COUNT(*)) AS BIGINT) AS n_docs,
           CAST(COUNT(*) - least(70, COUNT(*)) AS BIGINT) AS n_dropped
    FROM documents GROUP BY lang
    """,
)
def c02_source_cap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key frequency cap under the oracle gate: cap documents at 70
    per language (sf0.01 langs run 64-218 docs, so the fixture exercises
    capped, boundary and uncapped keys), then count survivors and drops
    per key. ``per_key_cap``'s survivor COUNT contract is exactly
    ``least(n, count)`` — the skew-aware pre-filter plus exactness guard
    must never under-deliver (operators/sampling.py) — which DuckDB states
    directly; winner IDENTITY is xxhash-based and is pinned by the
    exact-vs-naive-window parity pytest instead
    (tests/test_sampling.py)."""
    d = load(spark, sf_dir, "documents")
    capped = sampling.per_key_cap(d, "lang", 70, "doc_id")
    survivors = capped.groupBy("lang").agg(F.count("*").alias("n_docs"))
    totals = d.groupBy("lang").agg(F.count("*").alias("_total"))
    return totals.join(survivors, "lang", "left").select(
        "lang",
        F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
        (F.col("_total") - F.coalesce(F.col("n_docs"), F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
    )
