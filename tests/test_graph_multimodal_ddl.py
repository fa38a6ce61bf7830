"""BFS closure vs python oracle, multimodal plumbing."""

from pyspark.sql import functions as F

from btc_blockchain_scanner_spark.operators import graph, multimodal, smallgraph


# the numpy small-graph kernel (default budget) and the distributed loop
PATHS = (smallgraph.SMALL_GRAPH_EDGES, 0)


def test_bfs_matches_python(spark, persistent_ids):
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (4, 10), (20, 21)]
    e = spark.createDataFrame(edges, "src long, dst long")
    src = spark.createDataFrame([(1,)], "node long")

    # python BFS oracle
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist, frontier = {1: 0}, [1]
    while frontier:
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    nxt.append(v)
        frontier = nxt
    for t in PATHS:
        before = persistent_ids()
        got = {
            (r.node, r.hops)
            for r in graph.bfs_reachable(e, src, max_hops=10, small_graph_threshold=t).collect()
        }
        assert got == set(dist.items()), t
        # the distributed loop keeps only the checkpoint of the visited
        # frame it returns; the kernel path checkpoints nothing
        assert len(persistent_ids() - before) <= (1 if t == 0 else 0), t


def test_bfs_respects_max_hops(spark):
    e = spark.createDataFrame([(i, i + 1) for i in range(6)], "src long, dst long")
    src = spark.createDataFrame([(0,)], "node long")
    for t in PATHS:
        got = {
            r.node: r.hops
            for r in graph.bfs_reachable(e, src, max_hops=2, small_graph_threshold=t).collect()
        }
        assert got == {0: 0, 1: 1, 2: 2}, t


def test_multimodal_features_deterministic(spark):
    assets = multimodal.synthesize_assets(spark, n=50, partitions=2)
    assert [f.name for f in assets.schema.fields] == ["asset_id", "kind", "payload", "meta"]
    f1 = {r.asset_id: (r.payload_sha, tuple(r.feature)) for r in
          multimodal.extract_features(assets, dim=16).collect()}
    a2 = multimodal.synthesize_assets(spark, n=50, partitions=7)
    f2 = {r.asset_id: (r.payload_sha, tuple(r.feature)) for r in
          multimodal.extract_features(a2, dim=16).collect()}
    assert f1 == f2  # parallelism-independent
    assert all(len(v[1]) == 16 for v in f1.values())


def test_frame_sample_metadata_only(spark):
    assets = multimodal.synthesize_assets(spark, n=60)
    fs = multimodal.frame_sample(assets, every_ms=10000)
    rows = fs.collect()
    assert rows and all(r.frame_ts_ms % 10000 == 0 for r in rows)
    # payload column is pruned from the physical plan
    plan = fs._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan

