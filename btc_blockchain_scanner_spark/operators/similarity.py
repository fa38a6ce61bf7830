"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; LSH-bucketed (random
hyperplane / SimHash-for-vectors) as the scale path. Dot products are
higher-order-function folds (JVM codegen) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from . import closure


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 1,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors (self-matches excluded).

    Scale: the query side, which must fit the driver budget of
    :mod:`.closure` (else ValueError — use :func:`lsh_topk`), is collected
    once and closure-broadcast into a numpy-GEMM ``mapInPandas`` over the
    streamed corpus — each Arrow batch computes ``C @ Q.T`` (BLAS) and
    emits only its per-query top-(k+8) survivors, so driver traffic is
    O(|Q| * k * batches), then one tiny window picks the global top-k.
    Exact but O(|Q|x|C|) FLOPs; use :func:`lsh_topk` when both sides are
    large. Measured 15x over the HOF-fold cross join (the fold is
    interpreted per element; GEMM is vectorized).
    """
    import numpy as np

    # sized for the engine's 64-wide embeddings; wider vectors are
    # refused by closure.vectors' matrix check
    vecs = closure.vectors(queries, q_id, q_vec, 64)
    if vecs is None:
        raise ValueError("brute_force_topk: queries over closure.BUDGET_BYTES; use lsh_topk")
    qids, Q = vecs
    qn = np.linalg.norm(Q, axis=1)
    qz = qn == 0  # zero-norm queries have no defined cosine
    keep = k + 8  # tie slack at the per-batch pruning boundary

    def mapper(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(list(pdf["_cv"]), dtype=np.float64)
            cids = pdf["_cid"].to_numpy()
            cn = np.linalg.norm(C, axis=1)
            cz = cn == 0
            # zero-norm guard: 0/0 is NaN, and Spark orders NaN ABOVE every
            # double in a desc window — a zero vector would become everyone's
            # top-1. Mask those rows/cols to -inf (dropped like self-matches).
            S = (C @ Q.T) / np.outer(np.where(cz, np.inf, cn), np.where(qz, np.inf, qn))
            S[cz, :] = -np.inf
            S[:, qz] = -np.inf
            S[cids[:, None] == qids[None, :]] = -np.inf  # self-match
            m = min(keep, S.shape[0])
            out_q, out_c, out_s = [], [], []
            for j in range(S.shape[1]):
                col = S[:, j]
                idx = np.argpartition(-col, m - 1)[:m] if S.shape[0] > m else np.arange(S.shape[0])
                # deterministic order inside the batch: cos desc, c_id asc
                idx = idx[np.lexsort((cids[idx], -col[idx]))]
                out_q.extend([qids[j]] * len(idx))
                out_c.extend(cids[idx])
                out_s.extend(col[idx])
            yield pd.DataFrame({"q_id": out_q, "c_id": out_c, "cos_sim": out_s})

    # spread: small single-file corpora scan as ~2 splits — the GEMM
    # stage would otherwise run on 2 cores (guide §6 / r6). Only worth its
    # repartition when the per-corpus-row work is non-trivial: the query
    # side is already collected, so gate on |Q| (at 50 queries the whole
    # GEMM is ~64M flops and the shuffle would cost more than it saves).
    c = corpus.select(F.col(c_id).alias("_cid"), F.col(c_vec).alias("_cv"))
    if len(qids) >= 512:
        c = closure.spread(c)
    scored = c.mapInPandas(mapper, "q_id long, c_id long, cos_sim double")
    scored = scored.where(~F.col("cos_sim").eqNullSafe(float("-inf")))
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "cos_sim", "rank")
    )


def _plane_matrix(dim: int, num_tables: int, planes_per_table: int) -> "np.ndarray":
    """Deterministic ±1 hyperplane matrix, shape (tables*planes, dim).

    Entries derive from a vectorized splitmix64 of (table, plane, dim-index)
    — a pure function with no RNG state, so every executor materializes the
    identical matrix from the closure (same determinism argument as
    kg/datagen.py)."""
    import numpy as np

    U = np.uint64
    tt, pp, ii = np.meshgrid(
        np.arange(num_tables, dtype=np.int64),
        np.arange(planes_per_table, dtype=np.int64),
        np.arange(dim, dtype=np.int64),
        indexing="ij",
    )
    with np.errstate(over="ignore"):
        x = (
            (U(1000) + tt.astype(U)) * U(0x2545F4914F6CDD1D)
            + pp.astype(U) * U(0x9E3779B97F4A7C15)
            + ii.astype(U) * U(0xD6E8FEB86659FD93)
        )
        z = (x + U(0x9E3779B97F4A7C15)).astype(U)
        z = (z ^ (z >> U(30))) * U(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> U(27))) * U(0x94D049BB133111EB)
        h = z ^ (z >> U(31))
    return np.where(h % U(2) == 0, 1.0, -1.0).reshape(num_tables * planes_per_table, dim)


def _multi_table_buckets(
    df: DataFrame, id_col: str, vec_col: str, num_tables: int, planes_per_table: int, dim: int
) -> DataFrame:
    """(id, vec) → exploded (id, table_idx, bucket) rows — one signature per
    hash table, each table using an independent plane set. Multi-table
    OR-amplification is what makes hyperplane LSH recall tunable on
    weakly-clustered data: P(candidate) = 1 - (1 - p^planes)^tables.

    All tables' projections are ONE numpy GEMM per Arrow batch against the
    closure-broadcast ±1 plane matrix (X @ R.T), then sign-bits pack into
    per-table bucket ids. This replaced a per-plane ``F.aggregate`` fold —
    interpreted per element, it was ~90% of emb_lsh's wall (16.4 s → 1.3 s
    for 2000×64 at 12×3). Only (id, table, bucket) leaves the stage —
    vectors never enter the bucket-join shuffle."""
    import numpy as np

    R = _plane_matrix(dim, num_tables, planes_per_table)  # (T*P, dim)
    n_tables, n_planes = num_tables, planes_per_table
    shifts = np.left_shift(np.ones(n_planes, dtype=np.int64), np.arange(n_planes, dtype=np.int64))

    def mapper(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["_v"]), dtype=np.float64)
            ids = pdf["_i"].to_numpy()
            prj = X @ R.T  # (n, T*P)
            bits = (prj > 0).reshape(len(ids), n_tables, n_planes)
            buckets = (bits * shifts[None, None, :]).sum(axis=2)  # (n, T)
            yield pd.DataFrame(
                {
                    "_id": np.tile(ids, n_tables),
                    "_tbl": np.repeat(np.arange(n_tables, dtype=np.int32), len(ids)),
                    "_bucket": buckets.T.reshape(-1),
                }
            )

    src = closure.spread(df.select(F.col(id_col).alias("_i"), F.col(vec_col).alias("_v")))
    return src.mapInPandas(mapper, "_id long, _tbl int, _bucket long")


def _verify(pairs: DataFrame, a_col: str, b_col: str, a: tuple, b: tuple, dim: int) -> DataFrame:
    """Exact cosine (``cos_sim``) per (``a_col``, ``b_col``) id pair, the
    ids resolved against the vector sides ``a`` and ``b``, each a
    ``(df, id_col, vec_col)`` tuple (pass the same tuple twice for a
    self-join: it is collected once).

    Size-aware. When both sides fit the driver budget, one bounded collect
    per side (:func:`.closure.vectors`) doubles as the closure, and the
    pairs are scored by a gathered row-wise einsum per Arrow batch — no
    vector shuffle, no per-pair JVM fold (the fold was ~80% of emb_lsh's
    wall at weak thresholds where candidates are dense: 16.4 s → 3.9 s at
    2000×64/0.35). Past the budget, vectors + staged norms re-attach via
    two narrow equi-joins and the JVM fold scores each pair — the
    unbounded-scale path. Measured there: an Arrow-batched numpy verify of
    the attached (vec, vec) pairs was tried and reverted — shipping them
    through a Python stage after the bucket join broke pipelining and ran
    2-6x SLOWER than the fold (emb_lsh 26 s -> 60 s at sf0.1); vectorized
    cosine only wins where a matrix is collected once and GEMM'd against
    streamed batches, not per pair after a join. Zero-norm vectors score
    NULL (fold, via ``nullif`` on the divisor) or NaN (gather); callers
    filter both."""
    import numpy as np

    va = closure.vectors(*a, dim)
    vb = va if b is a or va is None else closure.vectors(*b, dim)
    if vb is None:

        def attach(df, id_col, vec_col, col):
            v = F.col(vec_col)
            return df.select(F.col(id_col).alias(col), v.alias(col + "_v"), norm(v).alias(col + "_n"))

        cand = pairs.join(attach(*a, a_col), a_col).join(attach(*b, b_col), b_col)
        cos = dot(F.col(a_col + "_v"), F.col(b_col + "_v")) / F.nullif(
            F.col(a_col + "_n") * F.col(b_col + "_n"), F.lit(0.0)
        )
        return cand.select(a_col, b_col, cos.alias("cos_sim"))

    def indexed(vecs):
        ids, M = vecs
        nrm = np.linalg.norm(M, axis=1)
        return dict(zip(ids.tolist(), range(len(ids)))), M, np.where(nrm == 0, np.nan, nrm)

    (index_a, Ma, na), (index_b, Mb, nb) = indexed(va), indexed(vb)

    def mapper(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ma = pdf[a_col].map(index_a)
            mb = pdf[b_col].map(index_b)
            if ma.isna().any() or mb.isna().any():
                missing = pdf[a_col][ma.isna()].tolist()[:3] + pdf[b_col][mb.isna()].tolist()[:3]
                raise ValueError(
                    f"gather verify: pair references ids absent from the "
                    f"vector table (e.g. {missing}) — the pairs must be "
                    "generated from the same id set as the closure"
                )
            ia = ma.to_numpy(dtype=np.int64)
            ib = mb.to_numpy(dtype=np.int64)
            s = np.einsum("ij,ij->i", Ma[ia], Mb[ib]) / (na[ia] * nb[ib])
            yield pd.DataFrame({a_col: pdf[a_col], b_col: pdf[b_col], "cos_sim": s})

    return pairs.mapInPandas(mapper, f"{a_col} long, {b_col} long, cos_sim double")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 1,
    num_tables: int = 12,
    planes_per_table: int = 5,
    dim: int = 64,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    corpus_buckets: DataFrame | None = None,
    query_buckets: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share a bucket in ANY of the hash
    tables; exact cosine re-ranks the deduplicated candidate set.

    Scale: one equi-join shuffle on (table, bucket) instead of a cross
    join. Cost scales with bucket collision counts, tuned by
    planes_per_table (more planes → smaller buckets → fewer candidates,
    lower recall) and num_tables (OR-amplified recall).

    ``corpus_buckets`` / ``query_buckets`` accept a pre-computed (and
    typically persisted) ``_multi_table_buckets`` frame with the SAME
    (num_tables, planes_per_table) — callers running several LSH operators
    over one corpus (t06's recall matrix) share the signature GEMM stage
    instead of recomputing it per operator/join side."""
    # id-only candidate generation (vectors would multiply the bucket-join
    # and dedup shuffle bytes ~50x); vectors + staged norms re-attach via
    # narrow equi-joins that AQE broadcasts when a side is small.
    if query_buckets is None:
        query_buckets = _multi_table_buckets(
            queries, q_id, q_vec, num_tables, planes_per_table, dim
        )
    q = query_buckets.select("_id", "_tbl", "_bucket")
    if corpus_buckets is None:
        corpus_buckets = _multi_table_buckets(
            corpus, c_id, c_vec, num_tables, planes_per_table, dim
        )
    c = corpus_buckets.select(F.col("_id").alias("c_id"), "_tbl", "_bucket")
    pairs = (
        q.join(c, ["_tbl", "_bucket"])
        .where(F.col("_id") != F.col("c_id"))
        .select(F.col("_id").alias("q_id"), "c_id")
        .dropDuplicates(["q_id", "c_id"])
    )
    return _rank_candidates(pairs, queries, corpus, k, q_id, q_vec, c_id, c_vec, dim)


def _rank_candidates(
    pairs: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str,
    q_vec: str,
    c_id: str,
    c_vec: str,
    dim: int,
) -> DataFrame:
    """Shared candidate-verify (:func:`_verify`) + top-k rank for the ANN
    paths (LSH, IVF)."""
    scored = _verify(pairs, "q_id", "c_id", (queries, q_id, q_vec), (corpus, c_id, c_vec), dim)
    # zero-norm scores surface as NULL (JVM nullif; Arrow maps pandas NaN
    # to null too) or NaN — drop both so they can never rank
    scored = scored.where(F.col("cos_sim").isNotNull() & ~F.isnan("cos_sim"))
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "cos_sim", "rank")
    )


# -- IVF (inverted-file) ANN ---------------------------------------------------


def _assign_clusters(
    df: DataFrame, id_col: str, vec_col: str, C: "np.ndarray", n_probe: int
) -> DataFrame:
    """(id, vec) → (id, cluster) rows for each of the ``n_probe`` nearest
    centroids (L2). One GEMM per Arrow batch against the closure-broadcast
    centroid matrix — the IVF coarse quantizer."""
    import numpy as np

    c_sq = (C * C).sum(axis=1)

    def mapper(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["_v"]), dtype=np.float64)
            ids = pdf["_i"].to_numpy()
            # ||x-c||^2 = ||x||^2 - 2 x·c + ||c||^2; ||x||^2 is rank-constant
            D = c_sq[None, :] - 2.0 * (X @ C.T)  # (n, n_centroids)
            if n_probe == 1:
                near = np.argmin(D, axis=1)[:, None]
            else:
                m = min(n_probe, D.shape[1])
                near = np.argpartition(D, m - 1, axis=1)[:, :m]
            reps = near.shape[1]
            yield pd.DataFrame(
                {
                    "_id": np.repeat(ids, reps),
                    "_cluster": near.reshape(-1).astype(np.int32),
                }
            )

    src = df.select(F.col(id_col).alias("_i"), F.col(vec_col).alias("_v"))
    return src.mapInPandas(mapper, "_id long, _cluster int")


def ivf_centroids(
    corpus: DataFrame,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    n_centroids: int = 16,
    lloyd_iters: int = 2,
) -> "np.ndarray":
    """Deterministic IVF coarse-quantizer centroids.

    Seeds = the ``n_centroids`` corpus vectors with the smallest
    md5(id) (an order-free pseudo-random sample — same determinism trick as
    the id rank), refined by ``lloyd_iters`` distributed Lloyd steps:
    assignment is the GEMM quantizer, the update is a per-(cluster,
    position) mean via posexplode — both shuffle O(n·dim) rows, no driver
    loop over data. The centroid matrix itself stays tiny
    (n_centroids × dim) and lives driver-side, like the reference's
    in-memory caches."""
    import numpy as np

    seed_rows = (
        corpus.select(F.col(c_id).alias("_i"), F.col(c_vec).alias("_v"))
        .withColumn("_m", F.md5(F.col("_i").cast("string")))
        .orderBy("_m")
        .limit(n_centroids)
        .collect()
    )
    C = np.array([list(r["_v"]) for r in seed_rows], dtype=np.float64)
    vecs = corpus.select(F.col(c_id).alias("_i"), F.col(c_vec).alias("_v"))
    for _ in range(lloyd_iters):
        assigned = _assign_clusters(corpus, c_id, c_vec, C, n_probe=1)
        # mean via exact DECIMAL sum / count: a double avg() accumulates in
        # shuffle order and is NOT bit-reproducible across parallelism —
        # boundary vectors could flip cluster between runs. Decimal sums
        # are order-insensitive (same trick as the oracle-parity dsum).
        upd = (
            assigned.join(vecs, assigned._id == vecs._i)
            .select("_cluster", F.posexplode("_v").alias("_pos", "_x"))
            .groupBy("_cluster", "_pos")
            .agg(
                (
                    F.sum(F.col("_x").cast("decimal(30,12)")) / F.count("*")
                ).cast("double").alias("_m")
            )
            .collect()
        )
        C = C.copy()  # clusters that lost every member keep their seed
        for r in upd:
            C[r["_cluster"], r["_pos"]] = r["_m"]
    return C


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 1,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 2,
    dim: int = 64,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    centroids: "np.ndarray | None" = None,
    corpus_assign: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF index: corpus vectors go to their single
    nearest centroid's inverted list; each query probes its ``n_probe``
    nearest lists; exact cosine re-ranks the union of probed lists.

    The alternative ANN scale path to :func:`lsh_topk` (a training-data
    pipeline usually offers both): IVF candidates are corpus-adaptive
    (cluster structure) where LSH's are data-oblivious (random planes), so
    IVF needs far fewer candidates on clustered corpora — cost ~
    n_probe/n_centroids of the corpus per query. The bucket join shuffles
    ids only, exactly like the LSH path.

    ``centroids`` / ``corpus_assign`` accept a pre-built index (the
    centroid matrix from :func:`ivf_centroids` and a persisted
    (c_id, _cluster) assignment) so repeated query batches pay only the
    probe + re-rank cost — at production scale the inverted lists are a
    materialized table, rebuilt per corpus epoch, not per query batch
    (same amortization as the LSH ``corpus_buckets`` param)."""
    C = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, c_id, c_vec, n_centroids, lloyd_iters)
    )
    c_assign = (
        corpus_assign
        if corpus_assign is not None
        else _assign_clusters(corpus, c_id, c_vec, C, n_probe=1).select(
            F.col("_id").alias("c_id"), "_cluster"
        )
    )
    q_assign = _assign_clusters(queries, q_id, q_vec, C, n_probe=n_probe).select(
        F.col("_id").alias("q_id"), "_cluster"
    )
    pairs = (
        q_assign.join(c_assign, "_cluster")
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        # corpus vectors live in exactly ONE list, so probe unions cannot
        # duplicate a pair — no dropDuplicates shuffle needed
    )
    return _rank_candidates(pairs, queries, corpus, k, q_id, q_vec, c_id, c_vec, dim)
