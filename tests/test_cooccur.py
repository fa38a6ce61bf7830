"""The one co-occurrence pair-count kernel (``operators/cooccur.py``):
its placement gate, and j06's kernel against its distributed fallback."""

import tracemalloc

import numpy as np

from btc_blockchain_scanner_spark.operators import closure, cooccur
from btc_blockchain_scanner_spark.plans.relational_queries import j06_copart_pairs


def test_placement_gate_boundary(spark, monkeypatch, mapped):
    """The kernel runs in-process while the bytes it holds there fit the
    budget exactly, and on the executors one byte below it, with the same
    rows."""
    ids = np.arange(6, dtype=np.int64)
    sizes = np.array([3, 2, 3, 1, 2, 1])
    flat = ["a", "b", "c", "a", "b", "a", "c", "d", "b", "a", "d", "c"]
    post = cooccur.postings(ids, sizes, flat)
    need = cooccur.footprint(cooccur._closure(post, None))
    # a: 4 docs, b: 3, c: 3, d: 2 — 13 touches and 12 incidences, all in
    # one sub-block
    kept, work = cooccur.KEPT_BYTES, cooccur.WORK_BYTES
    assert need == (kept + work) * (6 + 3 + 3 + 1) + cooccur.INC_BYTES * 12

    monkeypatch.setattr(closure, "BUDGET_BYTES", need)
    driver = sorted(map(tuple, cooccur.pairs(spark, post).collect()))
    assert mapped == []
    monkeypatch.setattr(closure, "BUDGET_BYTES", need - 1)
    executors = sorted(map(tuple, cooccur.pairs(spark, post).collect()))
    assert mapped == [1]
    assert executors == driver
    # 10 of the 15 pairs share a key; (0, 1) share a and b
    assert driver[0] == (0, 1, 2, 3, 2) and len(driver) == 10


def test_in_process_rows_span_sub_blocks(spark, monkeypatch, mapped):
    """Every kept row reaches Spark from the in-process placement when
    earlier sub-blocks count pairs but keep none of them."""
    ids = np.arange(600, dtype=np.int64)
    # docs 2i and 2i+1 share one key below 512 (one shared order is under
    # min_count); docs 512-599 share two keys with each other
    flat = [f"p{i // 2}" for i in range(512)] + ["x", "y"] * 88
    sizes = np.array([1] * 512 + [2] * 88)
    post = cooccur.postings(ids, sizes, flat)
    monkeypatch.setattr(closure, "BUDGET_BYTES", 1 << 40)
    got = cooccur.pairs(spark, post, min_count=2).collect()
    assert mapped == []
    want = {(a, b) for a in range(512, 600) for b in range(a + 1, 600)}
    assert len(got) == len(want) and {(r.id_a, r.id_b) for r in got} == want


def test_footprint_bounds_kernel_memory():
    """footprint is an upper bound on what the in-process kernel allocates,
    both when nearly every touch is a kept pair (threshold 0, pairs
    sharing one key) and when nothing is kept (the sub-block's work
    arrays alone), from a few docs to several sub-blocks, with and
    without hub columns."""
    rng = np.random.default_rng(1)
    cases = ((40, 3, 50, None), (600, 10, 1200, None), (600, 3, 50, 30), (200, 60, 150, None))
    for n, k, vocab, cap in cases:
        keys = [rng.choice(vocab, k, replace=False) for _ in range(n)]
        post = cooccur.postings(
            np.arange(n, dtype=np.int64), np.full(n, k), [str(x) for ks in keys for x in ks]
        )
        v = cooccur._closure(post, cap)
        for thr in (0.0, 2.0):
            tracemalloc.start()
            out = cooccur._block_pairs(v, 0, n, thr, 1)
            peak = tracemalloc.get_traced_memory()[1]
            tracemalloc.stop()
            assert (out.num_rows > 0) == (thr == 0.0)
            assert peak <= cooccur.footprint(v), (n, thr, peak)


def test_j06_kernel_and_fallback_agree(spark, tmp_path, monkeypatch):
    """j06 through the co-occurrence kernel (default budget) and through
    its HOF pair-expansion plan (budget 0) give the same rows."""
    lines = (
        [(1, 10), (1, 10), (1, 11), (2, 10), (2, 11)]  # 10 twice in order 1
        + [(3, 12), (3, 13), (9, 11), (9, 12), (9, 13)]  # (12, 13): 2 orders
        + [(4, 12), (4, 14)]  # (12, 14) share exactly 1 order
        + [(5, p) for p in range(20, 35)]  # a 15-part order
        + [(6, p) for p in range(20, 25)]
        + [(7, 40), (8, 10)]  # single-part orders
    )
    spark.createDataFrame(lines, "l_orderkey long, l_partkey long").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    li = spark.read.parquet(str(tmp_path / "lineitem.parquet"))
    assert cooccur.pair_counts(li, "l_partkey", "l_orderkey", 2) is not None
    kernel = sorted(map(tuple, j06_copart_pairs(spark, str(tmp_path)).collect()))
    monkeypatch.setattr(closure, "BUDGET_BYTES", 0)
    assert cooccur.pair_counts(li, "l_partkey", "l_orderkey", 2) is None
    hof = sorted(map(tuple, j06_copart_pairs(spark, str(tmp_path)).collect()))
    assert kernel == hof
    want = [(10, 11, 2), (12, 13, 2)] + [
        (a, b, 2) for a in range(20, 25) for b in range(a + 1, 25)
    ]
    assert kernel == sorted(want)
