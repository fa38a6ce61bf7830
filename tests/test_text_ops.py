"""Text-pipeline operators: exact dedup, MinHash-LSH recall vs exact
Jaccard, SimHash, ANN recall vs brute force."""

import numpy as np
import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from btc_blockchain_scanner_spark.functions import text as TX
from btc_blockchain_scanner_spark.operators import closure, cooccur, dedup, similarity
from btc_blockchain_scanner_spark.sources.tables import load


def docs_df(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the sun sets "
        "behind tall mountains and rivers flow quietly through green valleys "
        "carrying cold water toward the distant northern sea"
    )
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("lazy", "sleepy")),  # near dup: one token changed
        (4, "completely different content about spark and iceberg tables"),
        (5, "spark and iceberg tables are completely different content about"),
        (6, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    d = docs_df(spark)
    groups = dedup.exact_dup_groups(d).collect()
    assert len(groups) == 1 and groups[0].n_docs == 2 and groups[0].keep_id == 1


def test_ngram_hub_cap_keeps_jaccard_exact(spark):
    # every doc shares one boilerplate sentence (hub shingles, df = n_docs);
    # docs 1/2 are near-dups of each other beyond the boilerplate.
    boiler = "this transcript is confidential property of the example corp"
    rows = [
        (1, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, boiler + " alpha beta gamma delta epsilon zeta eta iota"),
        (3, boiler + " one two three four five six seven eight"),
        (4, boiler + " nine ten eleven twelve thirteen fourteen fifteen sixteen"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r.id_a, r.id_b, round(r.jacc, 6))
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.5, max_shingle_freq=None).collect()
    }
    capped = {
        (r.id_a, r.id_b, round(r.jacc, 6))
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.5, max_shingle_freq=3).collect()
    }
    # hub shingles (df=4 > 3) leave candidate generation, but the reported
    # jaccard still counts them — pair (1,2) survives with the EXACT value
    assert capped == uncapped
    assert any(a == 1 and b == 2 for a, b, _ in capped)
    # pairs (3,4): only shared shingles are boilerplate → below 0.5 anyway
    # sanity: candidate explosion actually pruned — hub shingles produce
    # 4*3/2=6 candidate pairs each; with the cap only (1,2) shares non-hub
    capped_low = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.01, max_shingle_freq=3).collect()
    }
    assert capped_low == {(1, 2)}


def test_minhash_lsh_recall_vs_exact(spark):
    docs = load(spark, "/root/testdata/sf0.001", "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, n=3, num_perm=32, num_bands=8, threshold=0.5).collect()
    }
    # verification step guarantees precision == 1.0 (approx ⊆ exact)
    assert approx <= exact
    # banding with r=4,b=8 keeps recall high at j>=0.5
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.9, (recall, len(exact))


def test_dedup_operators_leave_nothing_persisted(spark, persistent_ids):
    """Collecting a dedup operator's result leaves no persisted RDD behind:
    nothing releases what an operator persists inside its lazy result
    (MinHash's shingles and LSH buckets, SimHash's band blocks, the n-gram
    join path's shingles). A caller that shares a stage persists it and
    passes it in (t06)."""
    rows = [(i, f"persist check {i % 3} alpha beta gamma delta {i % 2}") for i in range(12)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    s = spark.createDataFrame([(str(i), t) for i, t in rows], "doc_id string, text string")
    ops = {
        "minhash": lambda: dedup.minhash_lsh_pairs(d, threshold=0.5),
        "simhash": lambda: dedup.simhash_dup_pairs(d, max_hamming=3),
        "ngram_join": lambda: dedup.ngram_jaccard_pairs(s, threshold=0.5),
    }
    for name, op in ops.items():
        before = persistent_ids()
        assert op().collect(), name
        assert persistent_ids() - before == set(), name


def simhash_from_hashes(hashes: Column, bits: int = 64) -> Column:
    """SimHash from an array<long> of token hashes in Column math, the
    reference ``dedup.simhash_signatures``' Arrow bit-vote is checked
    against: bit k of the signature is the sign of the sum over tokens of
    (+1/-1 by bit k of the token's xxhash64)."""
    # Per bit k (python-level loop — shift amounts must be literals): the
    # vote is (#tokens with bit set) - (#tokens with bit clear).
    # bit-test via mask (shift functions reject lambda variables); a closure
    # factory keeps the lambda binary — PySpark derives HOF arity from the
    # Python signature, so a `m=mask` default would break it.
    def vote_fn(m: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(m).cast("long")) != 0, 1
        ).otherwise(-1)

    sig = F.lit(0).cast("long")
    for k in range(bits):
        # bit 63 is the sign bit of a signed long → two's-complement literal
        mask = -(1 << 63) if k == 63 else (1 << k)
        vote = F.aggregate(hashes, F.lit(0).cast("long"), vote_fn(mask))
        sig = sig + F.when(vote > 0, F.lit(mask).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def test_simhash_arrow_matches_column_spec(spark):
    """The Arrow bit-vote signature must be BIT-identical to the Column
    reference implementation (simhash_from_hashes) on real and edge-case
    texts — including empty token lists."""
    rows = [(r.doc_id, r.text) for r in load(spark, "/root/testdata/sf0.001", "documents").limit(60).collect()]
    rows += [(9001, ""), (9002, "...!!!"), (9003, "one"), (9004, "go go go go go")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r._id, r._sig) for r in dedup.simhash_signatures(d).collect()}
    from btc_blockchain_scanner_spark.functions import text as TX

    hashed = d.select(
        F.col("doc_id").alias("_id"),
        F.transform(TX.tokens(F.col("text")), lambda t: F.xxhash64(t)).alias("_h"),
    ).repartition("_id")
    want = {
        (r._id, r._sig)
        for r in hashed.select("_id", simhash_from_hashes(F.col("_h")).alias("_sig")).collect()
    }
    assert got == want


def test_simhash_finds_near_dups(spark):
    d = docs_df(spark)
    pairs = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_dup_pairs(d, max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0  # identical text → identical signature
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup within hamming 3
    assert (1, 4) not in pairs


ZERO_NORM_ROWS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),
    (2, [0.0, 0.0, 0.0, 0.0]),  # zero-norm
    (3, [0.0, 1.0, 0.0, 0.0]),
]


def test_zero_norm_vectors_never_rank(spark, monkeypatch):
    """A zero-norm vector has undefined cosine; it must neither appear as a
    neighbor nor pull in dup pairs (regression: NaN sorts above every double
    in Spark desc windows, so an unguarded 0/0 made zero vectors everyone's
    top-1). The LSH verifies run at the default budget (gathered einsum)
    and at budget 0 (JVM fold), and must agree."""
    from btc_blockchain_scanner_spark.operators.similarity import (
        brute_force_dup_pairs,
        brute_force_topk,
        lsh_dup_pairs,
        lsh_topk,
    )

    e = spark.createDataFrame(ZERO_NORM_ROWS, "vec_id long, embedding array<float>")
    top = brute_force_topk(e, e, k=1).collect()
    assert all(r.c_id != 2 for r in top), "zero vector ranked as a neighbor"
    assert all(r.q_id != 2 for r in top), "zero query produced a neighbor"
    pairs = brute_force_dup_pairs(e, threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}, "exact"
    verified = []
    for budget in (closure.BUDGET_BYTES, 0):
        monkeypatch.setattr(closure, "BUDGET_BYTES", budget)
        topl = lsh_topk(e, e, k=1, num_tables=4, planes_per_table=2, dim=4).collect()
        assert all(r.c_id != 2 and r.q_id != 2 for r in topl), budget
        pairs = lsh_dup_pairs(
            e, threshold=0.5, num_tables=4, planes_per_table=2, dim=4
        ).collect()
        assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}, budget
        verified.append((
            {(r.q_id, r.c_id, round(r.cos_sim, 9)) for r in topl},
            {(r.id_a, r.id_b, round(r.cos_sim, 9)) for r in pairs},
        ))
    assert verified[0] == verified[1]


def test_exact_vector_kernels_refuse_over_budget(spark, monkeypatch):
    """The exact vector kernels collect one side onto the driver; over the
    closure budget they raise instead of collecting it."""
    e = spark.createDataFrame(ZERO_NORM_ROWS, "vec_id long, embedding array<float>")
    monkeypatch.setattr(closure, "BUDGET_BYTES", 0)
    with pytest.raises(ValueError, match="lsh_topk"):
        similarity.brute_force_topk(e, e, k=1)
    with pytest.raises(ValueError, match="lsh_dup_pairs"):
        similarity.brute_force_dup_pairs(e)


def test_exact_cosine_blocks_match_numpy_across_chunks(spark):
    """Both exact operators stream against a collected side of 2 500 rows,
    more than one 2 048-column chunk of the cosine block kernel: their
    top-k rows and dup pairs equal a numpy reference over the whole matrix.
    Small-integer entries make every dot product exact, so the cosines must
    match to the bit whatever order BLAS sums in. A zero vector scores
    nothing, and an exact duplicate ties with its original."""
    rng = np.random.default_rng(7)
    M = rng.integers(-4, 5, size=(2500, 64)).astype(np.float32)
    M[11] = 0.0
    M[2400] = M[7]  # a duplicate on the far side of the chunk boundary
    e = spark.createDataFrame(
        [(i, M[i].tolist()) for i in range(len(M))], "vec_id long, embedding array<float>"
    )
    X = M.astype(np.float64)
    nrm = np.linalg.norm(X, axis=1)
    nrm[nrm == 0] = np.nan
    S = (X @ X.T) / np.outer(nrm, nrm)
    np.fill_diagonal(S, np.nan)
    ok = ~np.isnan(S)

    k = 3
    want_top = set()
    for q in range(len(M)):
        c = np.flatnonzero(ok[q])
        c = c[np.lexsort((c, -S[q, c]))][:k]
        want_top |= {(q, int(j), r + 1) for r, j in enumerate(c)}
    top = similarity.brute_force_topk(e, e, k=k).collect()
    assert {(r.q_id, r.c_id, r.rank) for r in top} == want_top
    assert all(r.cos_sim == S[r.q_id, r.c_id] for r in top)

    thr = 0.4
    a, b = np.nonzero(np.triu(ok, 1) & (np.nan_to_num(S, nan=-2.0) >= thr))
    pairs = similarity.brute_force_dup_pairs(e, threshold=thr).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == set(zip(a.tolist(), b.tolist()))
    assert (7, 2400) in {(r.id_a, r.id_b) for r in pairs}
    assert all(r.cos_sim == S[r.id_a, r.id_b] for r in pairs)


def test_ivf_recall_on_clustered_corpus(spark):
    """IVF ANN: on a corpus with real cluster structure (its operating
    assumption) probing 4/16 lists must recover ~all brute-force top-1
    neighbors; the uniform synthetic corpus caps IVF near 0.88 even at
    8 probes (documented in ivf_topk) — LSH is the data-oblivious
    alternative there."""
    import numpy as np

    from btc_blockchain_scanner_spark.operators.similarity import brute_force_topk, ivf_topk

    # 8 deterministic well-separated centers, 60 points each, small jitter
    rng_base = np.arange(8 * 64, dtype=np.float64).reshape(8, 64)
    centers = np.cos(rng_base * 2.654435) * 10.0  # fixed, spread out
    rows = []
    vid = 0
    for c in range(8):
        for j in range(60):
            jit = np.cos((np.arange(64) + 13 * j + 101 * c) * 1.618) * 0.05
            rows.append((vid, (centers[c] + jit).astype(np.float32).tolist()))
            vid += 1
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = e.where(F.col("vec_id") % 10 == 0)
    exact = {(r.q_id, r.c_id) for r in brute_force_topk(q, e, k=1).collect()}
    approx = {
        (r.q_id, r.c_id)
        for r in ivf_topk(q, e, k=1, n_centroids=16, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, recall


def test_ann_lsh_recall_vs_brute_force(spark):
    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 30)
    exact = {r.q_id: (r.c_id, r.cos_sim) for r in similarity.brute_force_topk(q, emb, k=1).collect()}
    approx = {r.q_id: (r.c_id, r.cos_sim) for r in similarity.lsh_topk(q, emb, k=1).collect()}
    hits = sum(1 for k, v in exact.items() if approx.get(k, (None,))[0] == v[0])
    assert hits / len(exact) >= 0.5, hits  # multi-table ANN: top-1 agreement
    # every query gets a neighbor, and its cosine is a decent approximation
    assert len(approx) == len(exact)
    ratio = sum(approx[k][1] / v[1] for k, v in exact.items() if v[1] > 0) / len(exact)
    assert ratio >= 0.8, ratio


def test_cross_contamination_matches_bruteforce(spark, sf_dir):
    """Decontamination (cross-table shared-shingle flagging) vs a DuckDB
    brute-force intersect over the same corpus: eval set = first 10 docs,
    train = the rest."""
    import duckdb

    docs = load(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") >= 10)
    evalset = docs.where(F.col("doc_id") < 10)
    got = {
        (r.train_id, r.eval_id, r.shared_shingles)
        for r in dedup.cross_contamination(train, evalset, n=3, min_shared=4).collect()
    }

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    toks = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
    want = set(
        con.execute(
            f"""
            WITH s AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len({toks}) - 1, 1)),
                       i -> array_to_string(({toks})[i:i+2], ' '))) AS sh
              FROM documents WHERE len({toks}) >= 3)
            SELECT t.doc_id, e.doc_id, len(list_intersect(t.sh, e.sh))
            FROM s t JOIN s e ON t.doc_id >= 10 AND e.doc_id < 10
            WHERE len(list_intersect(t.sh, e.sh)) >= 4
            """
        ).fetchall()
    )
    assert got == want
    assert got, "fixture should contain at least one contaminated pair"


def test_cross_contamination_broadcast_guard(spark, sf_dir, monkeypatch):
    """ADVICE r4: the eval side is collected only after its size is
    checked. With the budget at 0 nothing is collected through Arrow (the
    eval side is never pulled onto the driver) and the shuffle-join
    fallback gives the identical result."""
    docs = load(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") >= 10)
    evalset = docs.where(F.col("doc_id") < 10)
    want = {
        (r.train_id, r.eval_id, r.shared_shingles)
        for r in dedup.cross_contamination(train, evalset, n=3, min_shared=4).collect()
    }

    def refuse(self):
        raise AssertionError("toArrow ran over the budget")

    monkeypatch.setattr(closure, "BUDGET_BYTES", 0)
    monkeypatch.setattr(type(docs), "toArrow", refuse)
    got = {
        (r.train_id, r.eval_id, r.shared_shingles)
        for r in dedup.cross_contamination(train, evalset, n=3, min_shared=4).collect()
    }
    assert got == want


def _kernel_budget(rows, cap):
    """A closure budget between the corpus's collect weight (text bytes +
    8 a doc) and the bytes the kernel would hold in-process: the texts
    are collected, and the kernel runs on the executors."""
    weight = sum(len(t.encode()) + 8 for _, t in rows)
    sh = [TX.shingle_list(t, 3) for _, t in rows]
    sizes = np.array([len(x) for x in sh])
    keep = sizes > 0
    post = cooccur.postings(
        np.array([i for i, _ in rows])[keep], sizes[keep], [g for x in sh for g in x]
    )
    # else the case is vacuous
    assert weight < cooccur.footprint(cooccur._closure(post, cap))
    return weight


def test_gemm_and_join_paths_agree(spark, monkeypatch, mapped):
    """r6: ngram_jaccard_pairs grew a postings-GEMM plan (closure-broadcast
    numpy counting) next to the shared-shingle join plan. Same contract,
    two physical plans — pin exact pair-set AND value parity on a corpus
    with near-dups, transitive chains, boilerplate hubs and short docs,
    at a permissive threshold so many pairs qualify. Where the budget
    leaves room between the collect and the kernel's pair touches, the
    kernel's executor placement must give exactly the rows of its driver
    placement."""
    boiler = "common shared preamble text that every single document carries along"
    rows = [
        (i, f"{boiler} item {i % 7} alpha beta gamma delta epsilon word{i % 3}")
        for i in range(30)
    ] + [(100, "tiny doc here"), (101, "tiny doc here"), (102, "unrelated standalone content piece")]
    # a second corpus whose hub shingles (df 40 > 20) leave that room
    hubbed = [
        (i, f"{boiler} topic {i % 3} kappa lambda mu nu xi omicron rho sigma item {i % 5}")
        for i in range(40)
    ]
    for fixture, cap, placements in ((rows, None, True), (rows, 5, False), (hubbed, 20, True)):
        d = spark.createDataFrame(fixture, "doc_id long, text string")

        def run(budget=None):
            with monkeypatch.context() as m:
                if budget is not None:
                    m.setattr(closure, "BUDGET_BYTES", budget)
                return {
                    (r.id_a, r.id_b, r.jacc)
                    for r in dedup.ngram_jaccard_pairs(
                        d, threshold=0.2, max_shingle_freq=cap
                    ).collect()
                }

        mapped.clear()
        gemm = run()
        assert not mapped  # the default budget keeps these kernels in-process
        join = run(0)
        rounded = lambda res: {(a, b, round(j, 12)) for a, b, j in res}  # noqa: E731
        assert rounded(gemm) == rounded(join), (cap, gemm ^ join)
        assert gemm  # non-vacuous: the fixture must actually produce pairs
        if placements:
            executors = run(_kernel_budget(fixture, cap))
            assert mapped, "the executor placement did not run"
            assert executors == gemm, (cap, executors ^ gemm)


def test_string_ids_decided_before_any_collect(spark, monkeypatch):
    """Ids that are not integral send ngram_jaccard_pairs to the join path
    from the schema alone: nothing is collected through Arrow first."""
    rows = [
        (f"d{i:02d}", f"shared opening words for every doc then topic {i % 4} ends {i % 3}")
        for i in range(40)
    ]
    d = spark.createDataFrame(rows, "doc_id string, text string")
    collected = []
    to_arrow = type(d).toArrow

    def spy(self):
        collected.append(1)
        return to_arrow(self)

    monkeypatch.setattr(type(d), "toArrow", spy)
    got = {
        (r.id_a, r.id_b, round(r.jacc, 12))
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.5, max_shingle_freq=None).collect()
    }
    assert collected == []
    sh = {i: set(TX.shingle_list(t, 3)) for i, t in rows}
    want = set()
    for a in sh:
        for b in sh:
            if a < b and sh[a] & sh[b]:
                j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
                if j >= 0.5:
                    want.add((a, b, round(j, 12)))
    assert got == want and got


def test_cross_contamination_gemm_and_join_agree(spark, monkeypatch):
    """Same two-plan parity pin for cross_contamination: the eval-postings
    GEMM stream (default budget) vs the exploded shingle join (budget 0)."""
    boiler = "shared benchmark sentence fragment appearing in train and eval splits"
    rows = [(i, f"{boiler} filler {i % 5} more filler tokens {i % 2}") for i in range(40)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    train = d.where(F.col("doc_id") % 4 != 0)
    evalset = d.where(F.col("doc_id") % 4 == 0)
    gemm = {
        (r.train_id, r.eval_id, r.shared_shingles)
        for r in dedup.cross_contamination(train, evalset, n=3, min_shared=3).collect()
    }
    monkeypatch.setattr(closure, "BUDGET_BYTES", 0)
    join = {
        (r.train_id, r.eval_id, r.shared_shingles)
        for r in dedup.cross_contamination(train, evalset, n=3, min_shared=3).collect()
    }
    assert gemm == join
    assert gemm  # non-vacuous
