"""Property-based tests (hypothesis) for the r02-novel invariants:

* the driver md5 rank is byte-identical to Spark's global
  order-by-md5 rank for ANY key set (operators/rank.py's core claim);
* the hub-shingle cap never changes ngram_jaccard_pairs' reported pairs
  or values as long as qualifying pairs share >= 1 non-hub shingle
  (operators/dedup.py's correctness argument).

Few examples + deadline=None: each example runs Spark jobs; the point is
adversarial STRUCTURE (duplicates, near-identical keys, shared
boilerplate), not volume — the deterministic suites cover volume.
"""

import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from btc_blockchain_scanner_spark.operators import dedup
from btc_blockchain_scanner_spark.operators.rank import md5_rank

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

keys_strategy = st.lists(
    st.text(alphabet="abcdef0123456789-_", min_size=1, max_size=24),
    min_size=1,
    max_size=60,
    unique=True,
)


@given(keys=keys_strategy, offset=st.integers(min_value=0, max_value=1_000_000))
@settings(**_SETTINGS)
def test_md5_rank_equals_global_rank(spark, keys, offset):
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    w = W.orderBy(F.md5(F.col("k")))
    want = {
        (r.k, r.entity_id)
        for r in df.select(
            "k", (F.dense_rank().over(w) + F.lit(offset)).cast("long").alias("entity_id")
        ).collect()
    }
    assert set(zip(keys, md5_rank(pa.array(keys, pa.string()), offset=offset).to_pylist())) == want


docs_strategy = st.lists(
    st.lists(st.sampled_from("alpha bravo charlie delta echo".split()), min_size=3, max_size=8),
    min_size=2,
    max_size=8,
)


@given(word_lists=docs_strategy)
@settings(**_SETTINGS)
def test_hub_cap_preserves_jaccard_pairs(spark, word_lists):
    # shared boilerplate prefix makes its shingles hubs at low caps
    boiler = "common shared preamble text here"
    rows = [(i, f"{boiler} {' '.join(ws)}") for i, ws in enumerate(word_lists)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    base = {
        (r.id_a, r.id_b, round(r.jacc, 9))
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.3, max_shingle_freq=None).collect()
    }
    # cap = n_docs - 1 → the boilerplate shingles (df = n_docs) are hubs,
    # but every qualifying pair at threshold 0.3 still shares a non-hub
    # shingle OR consists of docs whose entire overlap is boilerplate; the
    # 5-word random tail at >= 3 words guarantees non-hub bridge shingles
    # for near-dups, so pair sets and EXACT values must match.
    capped = {
        (r.id_a, r.id_b, round(r.jacc, 9))
        for r in dedup.ngram_jaccard_pairs(
            d, threshold=0.3, max_shingle_freq=len(rows) - 1
        ).collect()
    }
    # capped may only MISS pairs whose shared shingles are ALL hubs; for
    # every pair it does report, the value must be exact
    assert capped <= base
    capped_keys = {(a, b) for a, b, _ in capped}
    for a, b, j in base:
        if (a, b) in capped_keys:
            assert (a, b, j) in capped


edges_strategy = st.lists(
    st.tuples(st.integers(min_value=0, max_value=40), st.integers(min_value=0, max_value=40)),
    min_size=1,
    max_size=60,
)


def _messy(edges):
    """Duplicates and both orientations of some edges on top of the drawn
    list (which already carries self-loops and repeats by chance)."""
    return edges + [(b, a) for a, b in edges[::3]] + edges[:2]


@given(edges=edges_strategy)
@settings(**_SETTINGS)
def test_unionfind_fast_path_equals_distributed_cc(spark, edges):
    """The numpy small-graph kernel and the distributed min-label loop
    must agree on ANY edge list (self-loops, duplicates, both
    orientations), an all-self-loop (empty) graph included."""
    from btc_blockchain_scanner_spark.operators.cc import connected_components

    df = spark.createDataFrame(_messy(edges), "src long, dst long")
    fast = connected_components(df).collect()
    slow = connected_components(df, small_graph_threshold=0).collect()
    assert sorted(fast) == sorted(slow)


@given(
    edges=edges_strategy,
    # 0..40 are graph ids (isolated when on no drawn edge), 41..50 absent
    sources=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=4),
    max_hops=st.integers(min_value=0, max_value=4),
    undirected=st.booleans(),
)
@settings(**_SETTINGS)
def test_small_graph_bfs_equals_distributed(spark, edges, sources, max_hops, undirected):
    """BFS's numpy kernel and its distributed hop loop return identical
    (node, hops) rows, sources off the graph included at hop 0."""
    from btc_blockchain_scanner_spark.operators.graph import bfs_reachable

    df = spark.createDataFrame(_messy(edges), "src long, dst long")
    src = spark.createDataFrame([(s,) for s in sources], "node long")

    def run(threshold):
        return sorted(
            bfs_reachable(
                df, src, max_hops=max_hops, undirected=undirected,
                small_graph_threshold=threshold,
            ).collect()
        )

    assert run(10_000) == run(0)


edge_batches_strategy = st.lists(
    st.lists(
        st.tuples(st.integers(1, 25), st.integers(1, 25)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=10,
    ),
    min_size=2,
    max_size=3,
)


@given(batches=edge_batches_strategy)
@settings(**_SETTINGS)
def test_incremental_canon_equals_full_for_any_batching(spark, batches):
    """For ANY edge set and ANY batching of it, folding batches through
    incremental_canon_update equals one full canon_map over the union —
    the contraction argument (canon ids are component minima, so CC over
    the contracted batch graph preserves global minima) holds on
    adversarial structure, not just the handcrafted fixtures."""
    from btc_blockchain_scanner_spark.kg.canonicalize import (
        canon_map,
        incremental_canon_update,
    )

    nodes = sorted({n for batch in batches for e in batch for n in e})
    ents = spark.createDataFrame([(n,) for n in nodes], "entity_id int")

    canon = canon_map(ents, spark.createDataFrame(batches[0], "src long, dst long"))
    for batch in batches[1:]:
        canon = incremental_canon_update(
            canon, spark.createDataFrame(batch, "src long, dst long")
        )

    full = canon_map(
        ents,
        spark.createDataFrame([e for b in batches for e in b], "src long, dst long"),
    )
    dom = {r.entity_id for r in canon.select("entity_id").collect()}
    got = {(r.entity_id, r.canon_id) for r in canon.collect()}
    want = {(r.entity_id, r.canon_id) for r in full.collect() if r.entity_id in dom}
    assert got == want
