"""Connected components on known topologies (FIXTURES.md §3: chains, stars
with hub skew, disjoint cliques, cross-batch merges)."""

from pyspark.sql import functions as F

from btc_blockchain_scanner_spark.operators.cc import (
    connected_components,
    pair_edges_from_groups,
)


def _cc(spark, edges, threshold=0):
    # threshold=0 forces the DISTRIBUTED min-label loop (these topology
    # tests exist to cover it); the numpy small-graph kernel is
    # equivalence-tested against it in test_small_graph_fast_path below.
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        (r.node, r.component)
        for r in connected_components(df, small_graph_threshold=threshold).collect()
    }


def test_small_graph_fast_path_equals_distributed(spark):
    # adversarial-ish mix: chain + hub + disjoint clique + bridges
    edges = (
        [(i, i + 1) for i in range(1, 30)]
        + [(100, i) for i in range(101, 140)]
        + [(200, 201), (201, 202), (202, 200), (29, 100)]
    )
    fast = _cc(spark, edges, threshold=100_000)
    slow = _cc(spark, edges, threshold=0)
    assert fast == slow


def test_small_path_leaves_no_persisted_rdds(spark, persistent_ids):
    """The kernel paths of CC and BFS cache and checkpoint nothing: the
    JVM's persistent-RDD registry gains no id across a call."""
    from btc_blockchain_scanner_spark.operators.graph import bfs_reachable

    e = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "src long, dst long")
    src = spark.createDataFrame([(1,)], "node long")
    before = persistent_ids()
    st: dict = {}
    assert len(connected_components(e, stats_out=st).collect()) == 5
    assert st["path"] == "driver"
    assert len(bfs_reachable(e, src).collect()) == 3
    # no NEW ids (the ContextCleaner may reap other tests' blocks meanwhile)
    assert persistent_ids() - before == set()


def test_chain(spark):
    # 1-2-3-4-5 chain → all label 1
    got = _cc(spark, [(i, i + 1) for i in range(1, 5)])
    assert got == {(i, 1) for i in range(1, 6)}


def test_star_hub(spark):
    # hub 100 connected to 101..160 (degree-60 hub, skew shape)
    got = _cc(spark, [(100, i) for i in range(101, 161)])
    assert got == {(i, 100) for i in range(100, 161)}


def test_disjoint_cliques(spark):
    edges = []
    for base in (10, 20, 30):
        members = list(range(base, base + 4))
        edges += [(a, b) for a in members for b in members if a < b]
    got = _cc(spark, edges)
    expect = {(m, base) for base in (10, 20, 30) for m in range(base, base + 4)}
    assert got == expect


def test_two_components_merge_via_bridge(spark):
    # components {1,2} and {5,6} merge when bridge (2,5) appears —
    # the cross-batch merge fixpoint (RunUpdateWallets2 semantics)
    before = _cc(spark, [(1, 2), (5, 6)])
    assert before == {(1, 1), (2, 1), (5, 5), (6, 5)}
    after = _cc(spark, [(1, 2), (5, 6), (2, 5)])
    assert after == {(1, 1), (2, 1), (5, 1), (6, 1)}


def test_pair_edges_star_equivalence(spark):
    # group incidences: group g1 has members {3,1,2}, g2 has {7}, g3 {8,9}
    # → star edges from each group's min member (diameter 2, so CC
    # converges in O(1) rounds even for million-member hub groups)
    df = spark.createDataFrame(
        [("g1", 3), ("g1", 1), ("g1", 2), ("g2", 7), ("g3", 8), ("g3", 9), ("g1", 1)],
        "g string, m long",
    )
    edges = pair_edges_from_groups(df, "g", "m")
    got = {(r.src, r.dst) for r in edges.collect()}
    assert got == {(1, 2), (1, 3), (8, 9)}
    # connectivity equivalent to the clique
    comp = _cc(spark, list(got))
    assert comp == {(1, 1), (2, 1), (3, 1), (8, 8), (9, 8)}
    # skew guard: the group-min must be a partial-aggregable groupBy, not a
    # window sort that serializes a hub group into one task (VERDICT r02 #5)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        edges.explain("formatted")
    assert "Window" not in buf.getvalue()


def test_cc_deterministic_across_shuffle_partitions(spark):
    edges = [(i, i + 1) for i in range(1, 50)] + [(100 + i, 100) for i in range(1, 40)]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = _cc(spark, edges)
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = _cc(spark, edges)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b


def test_long_path_converges_in_log_rounds(spark):
    # A 400-node path has diameter 399 — one-hop propagation would need
    # ~400 rounds; pointer doubling must finish well inside max_iter=12
    # (2^12 >> 399). This is the ADVICE regression: chains longer than
    # max_iter used to mislabel silently.
    edges = [(i, i + 1) for i in range(1, 400)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.node, r.component)
        for r in connected_components(df, max_iter=12, small_graph_threshold=0).collect()
    }
    assert got == {(i, 1) for i in range(1, 401)}


def test_hub_group_star_converges_fast(spark):
    # a 60k-member group (hub skew shape): star edges keep it diameter 2,
    # so CC must converge within a handful of rounds — the r01 chain
    # topology would have needed 60k rounds and silently mislabeled.
    from pyspark.sql import functions as F

    big = spark.range(1, 60001).select(
        F.lit("hub").alias("g"), (F.col("id") + 100).alias("m")
    )
    edges = pair_edges_from_groups(big, "g", "m")
    assert edges.count() == 59999  # n-1 star edges, not n(n-1)/2
    # tight cap + forced distributed loop: must converge in <= 5 rounds
    comp = connected_components(edges, max_iter=5, small_graph_threshold=0)
    assert comp.agg(F.count_distinct("component")).first()[0] == 1
    assert comp.agg(F.min("component")).first()[0] == 101


def test_ranked_by_md5_matches_global_window(spark):
    # the driver rank must be BYTE-identical to Spark's single-partition
    # global rank over md5(key), offset included (the id spec the oracles use)
    import pyarrow as pa
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from btc_blockchain_scanner_spark.operators.rank import md5_rank

    keys = [f"key-{i:04d}" for i in range(937)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = set(zip(keys, md5_rank(pa.array(keys), offset=100).to_pylist()))
    w = W.orderBy(F.md5(F.col("k")))
    want = {
        (r.k, r.entity_id)
        for r in df.select(
            "k", (F.dense_rank().over(w) + F.lit(100)).cast("long").alias("entity_id")
        ).collect()
    }
    assert got == want


def test_stats_out_reports_path_and_rounds(spark):
    # the bench's at-scale CC section consumes this evidence channel
    edges = [(i, i + 1) for i in range(1, 20)]
    df = spark.createDataFrame(edges, "src long, dst long")
    st_fast: dict = {}
    connected_components(df, small_graph_threshold=100, stats_out=st_fast).count()
    assert st_fast == {"path": "driver"}
    st_slow: dict = {}
    connected_components(df, small_graph_threshold=0, stats_out=st_slow).count()
    assert st_slow["path"] == "distributed"
    # pointer doubling on a 20-node path: well under one-hop's 19 rounds
    assert 1 <= st_slow["rounds"] <= 7


def test_threshold_counts_undirected_edges(spark):
    # the docstring promises the threshold bounds DEDUPLICATED UNDIRECTED
    # edges (ADVICE r3: the old code compared the doubled orientation list,
    # silently halving the effective cap)
    edges = [(i, i + 1) for i in range(1, 12)]  # 11 undirected edges
    df = spark.createDataFrame(edges, "src long, dst long")
    st: dict = {}
    connected_components(df, small_graph_threshold=11, stats_out=st).count()
    assert st["path"] == "driver"  # 11 <= 11 → fast path
    st2: dict = {}
    connected_components(df, small_graph_threshold=10, stats_out=st2).count()
    assert st2["path"] == "distributed"  # 11 > 10 → loop


def test_nonconvergence_raises(spark):
    # max_iter=0 can never converge → must raise, not silently mislabel
    import pytest

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=0, small_graph_threshold=0)


def _canon_sets(df):
    return {(r.entity_id, r.canon_id) for r in df.collect()}


def test_incremental_canon_equals_full_recompute(spark):
    """Incremental union-find (contract → CC over the batch → bulk
    relabel, RunUpdateWallets2 semantics) must equal a full recompute
    over the edge union — including cross-component merges and entities
    first seen in the new batch."""
    from btc_blockchain_scanner_spark.kg.canonicalize import (
        canon_map,
        incremental_canon_update,
    )

    ents = spark.createDataFrame([(i,) for i in range(1, 13)], "entity_id int")
    e1 = spark.createDataFrame([(1, 2), (5, 6), (10, 11)], "src long, dst long")
    canon1 = canon_map(ents, e1)

    # batch 2 merges {1,2}+{5,6}, chains in brand-new entities 20/21
    e2 = spark.createDataFrame([(2, 5), (20, 21), (6, 20)], "src long, dst long")
    inc = incremental_canon_update(canon1, e2)

    ents_all = ents.unionByName(spark.createDataFrame([(20,), (21,)], "entity_id int"))
    full = canon_map(ents_all, e1.unionByName(e2))
    # full recompute also carries the never-edged singletons 3,4,7,8,9,12;
    # the incremental map only tracks previously-known + batch entities —
    # compare on the incremental map's domain (canon_map(entities, ...)
    # re-attaches singletons at read time, same as before)
    dom = {r.entity_id for r in inc.select("entity_id").collect()}
    assert _canon_sets(inc) == {
        (e, c) for (e, c) in _canon_sets(full) if e in dom
    }
    # and the merged component really collapsed to the global min
    got = dict(_canon_sets(inc))
    assert got[1] == got[2] == got[5] == got[6] == 1
    assert got[20] == got[21] == 1  # chained into the same component via 6
    assert got[10] == got[11] == 10  # untouched component unchanged


def test_incremental_canon_multi_batch_fold(spark):
    """Folding random edge batches through incremental updates must match
    one full CC over everything (deterministic pseudo-random batches)."""
    import random

    from btc_blockchain_scanner_spark.kg.canonicalize import (
        canon_map,
        incremental_canon_update,
    )

    rng = random.Random(42)
    nodes = list(range(1, 61))
    batches = [
        [(rng.choice(nodes), rng.choice(nodes)) for _ in range(15)] for _ in range(4)
    ]
    batches = [[(a, b) for a, b in batch if a != b] for batch in batches]

    ents = spark.createDataFrame([(i,) for i in nodes], "entity_id int")
    canon = canon_map(ents, spark.createDataFrame(batches[0], "src long, dst long"))
    for batch in batches[1:]:
        canon = incremental_canon_update(
            canon, spark.createDataFrame(batch, "src long, dst long")
        )
        # keep the fold's lineage flat like a real per-batch job would
        canon = canon.localCheckpoint(eager=True)

    all_edges = spark.createDataFrame(
        [e for batch in batches for e in batch], "src long, dst long"
    )
    full = canon_map(ents, all_edges)
    assert _canon_sets(canon) == _canon_sets(full)


def test_cc_local_unpersist_frees_superseded_rounds(spark, persistent_ids):
    """The reclamation contract: after the loop, the only NEW persistent
    RDD is the FINAL round's labels, which the returned frame reads —
    superseded rounds were released eagerly, so live storage is O(nodes),
    never O(rounds x nodes), and the undirected edge checkpoint was
    released before return."""
    # 200-node path → several pointer-doubling rounds
    e = spark.createDataFrame([(i, i + 1) for i in range(1, 200)], "src long, dst long")
    before = persistent_ids()
    st: dict = {}
    comp = connected_components(e, small_graph_threshold=0, stats_out=st)
    assert comp.count() == 200 and st["rounds"] >= 3
    leaked = persistent_ids() - before
    assert len(leaked) == 1, leaked



def test_release_frees_only_its_own_checkpoint(spark, persistent_ids):
    """session.release unpersists exactly the checkpoint RDD under a
    localCheckpoint frame, and refuses a frame derived from it, whose plan
    is no LogicalRDD (it owns no checkpoint)."""
    import pytest

    from btc_blockchain_scanner_spark.session import release

    before = persistent_ids()
    ck = spark.range(10).localCheckpoint(eager=True)
    assert len(persistent_ids() - before) == 1
    with pytest.raises(ValueError, match="localCheckpoint"):
        release(ck.select("id"))
    release(ck)
    assert persistent_ids() - before == set()
