"""Embedding similarity over array<float> columns: top-k neighbours and
near-duplicate pairs.

* Exact: :func:`brute_force_topk` and :func:`brute_force_dup_pairs`
  collect one side once (:func:`.closure.vectors`) and stream the other
  against it through one numpy block kernel, :func:`_cosine_blocks` — a
  matrix-multiplication join, BLAS on Arrow batches. Each supplies only
  its keep step.
* Approximate: :func:`lsh_topk` / :func:`lsh_dup_pairs` (multi-table
  hyperplane LSH) and :func:`ivf_topk` (inverted lists) generate id-only
  candidate pairs and score each with exact cosine (:func:`_verify`).

A zero vector has no cosine, so on every path it scores nothing: it is
never a neighbour, never has one, and never pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
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


def _cosine_blocks(stream: tuple, collected: tuple, keep, schema: str) -> DataFrame:
    """Exact cosine of every (streamed row, collected row) pair, reduced
    per block by ``keep``. Each side is a ``(df, id_col, vec_col)`` tuple.

    The collected side must fit the driver budget of :mod:`.closure`
    (else ValueError — use :func:`lsh_topk` / :func:`lsh_dup_pairs`); it
    is collected once, sized for the engine's 64-wide embeddings (wider
    vectors are refused by the matrix check), and closure-broadcast. Each
    Arrow batch of the streamed side then scores its block row against it
    in 2 048-column chunks, so a chunk stays cache-sized however large the
    collected side is: dot (``C @ M.T``, BLAS), then a divide by the norm
    product. A zero norm is NaN, so a zero vector's cosines are NaN, which
    no keep step ranks or passes. ``keep(S, row_ids, col_ids)`` turns one
    chunk into a pandas frame of ``schema``. Measured ~15x over the
    HOF-fold cross join at 2000x64 (the fold is interpreted per element).
    """
    vecs = closure.vectors(*collected, 64)
    if vecs is None:
        raise ValueError(
            "exact cosine: collected side over closure.BUDGET_BYTES; "
            "use lsh_topk or lsh_dup_pairs"
        )
    ids, M = vecs
    MT = np.ascontiguousarray(M.T)
    mn = np.linalg.norm(M, axis=1)
    mn[mn == 0] = np.nan
    CHUNK = 2048

    def mapper(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(list(pdf["_v"]), dtype=np.float64)
            cids = pdf["_i"].to_numpy()
            cn = np.linalg.norm(C, axis=1)
            cn[cn == 0] = np.nan
            for c0 in range(0, len(ids), CHUNK):
                S = (C @ MT[:, c0 : c0 + CHUNK]) / np.outer(cn, mn[c0 : c0 + CHUNK])
                out = keep(S, cids, ids[c0 : c0 + CHUNK])
                if len(out):
                    yield out

    df, id_col, vec_col = stream
    src = df.select(F.col(id_col).alias("_i"), F.col(vec_col).alias("_v"))
    # spread: a small single-file table scans as ~2 splits, and the GEMM
    # stage would run on 2 cores (guide §6 / r6: t10 31.9 s → 3.4 s at
    # sf1.0). Worth its repartition only when a streamed row's work is
    # non-trivial, so gate on the collected side: at 50 queries (t08) the
    # whole GEMM is ~64M flops and the shuffle would cost more than it saves.
    if len(ids) >= 512:
        src = closure.spread(src)
    return src.mapInPandas(mapper, schema)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The rank tail of every top-k operator: drop what has no cosine
    (zero-norm scores surface as NaN, or as NULL — the JVM fold's
    ``nullif``, and Arrow maps pandas NaN to null too; Spark would order
    NaN above every double), then the ``k`` best per query, ties broken by
    the smaller ``c_id``."""
    scored = scored.where(F.col("cos_sim").isNotNull() & ~F.isnan("cos_sim"))
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "cos_sim", "rank")
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

    The query side is the collected side of :func:`_cosine_blocks`; the
    corpus streams. Each chunk keeps only its per-query top-(k+8) (tie
    slack at the per-batch pruning boundary), so driver traffic is
    O(|Q| * k * batches), then one small window picks the global top-k.
    Exact but O(|Q|x|C|) FLOPs; use :func:`lsh_topk` when both sides are
    large.
    """
    m = k + 8

    def top(S, cids, qids):
        S[cids[:, None] == qids[None, :]] = np.nan  # self-match
        n = min(m, len(S))
        rows = np.argpartition(-S, n - 1, axis=0)[:n]
        cols = np.broadcast_to(np.arange(S.shape[1]), rows.shape)
        return pd.DataFrame(
            {"q_id": qids[cols].ravel(), "c_id": cids[rows].ravel(), "cos_sim": S[rows, cols].ravel()}
        )

    scored = _cosine_blocks(
        (corpus, c_id, c_vec), (queries, q_id, q_vec), top, "q_id long, c_id long, cos_sim double"
    )
    return _top_k(scored, k)


def brute_force_dup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """(id_a, id_b, cos_sim) pairs with ``id_a < id_b`` and cosine >=
    ``threshold``, exact: the O(n²) baseline :func:`lsh_dup_pairs` is
    measured against. The corpus is both sides of :func:`_cosine_blocks`,
    collected once and streamed; each chunk keeps only the pairs above the
    threshold."""
    thr = float(threshold)

    def above(S, a, b):
        ai, bj = np.nonzero((S >= thr) & (a[:, None] < b[None, :]))
        return pd.DataFrame({"id_a": a[ai], "id_b": b[bj], "cos_sim": S[ai, bj]})

    side = (embeddings, id_col, vec_col)
    return _cosine_blocks(side, side, above, "id_a long, id_b long, cos_sim double")


def _plane_matrix(dim: int, num_tables: int, planes_per_table: int) -> "np.ndarray":
    """Deterministic ±1 hyperplane matrix, shape (tables*planes, dim).

    Entries derive from a vectorized splitmix64 of (table, plane, dim-index)
    — a pure function with no RNG state, so every executor materializes the
    identical matrix from the closure (same determinism argument as
    kg/datagen.py)."""
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
    R = _plane_matrix(dim, num_tables, planes_per_table)  # (T*P, dim)
    n_tables, n_planes = num_tables, planes_per_table
    shifts = np.left_shift(np.ones(n_planes, dtype=np.int64), np.arange(n_planes, dtype=np.int64))

    def mapper(batches):
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
    scored = _verify(pairs, "q_id", "c_id", (queries, q_id, q_vec), (corpus, c_id, c_vec), dim)
    return _top_k(scored, k)


def lsh_dup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_tables: int = 8,
    planes_per_table: int = 6,
    dim: int = 64,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, cos_sim) pairs with ``id_a < id_b`` and cosine >=
    ``threshold``, approximate: multi-table hyperplane-LSH candidates, then
    exact cosine (:func:`_verify`). At threshold 0.9 (angle <= 26°) a
    6-plane table collides with p ~ (1-26/180)^6 ≈ 0.38, OR-amplified over
    8 tables to ~0.98 recall against :func:`brute_force_dup_pairs`.

    ``buckets``: optional pre-computed (persisted) ``_multi_table_buckets``
    frame over the same corpus/params — shares the signature GEMM across
    operators AND across this function's own self-join sides (an
    unpersisted frame would re-run the GEMM once per side).
    """
    e = embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    # candidate generation carries ONLY ids through the bucket join and
    # the dedup shuffle (the vectors would multiply shuffle bytes by
    # ~50x); vectors re-attach at the verify stage.
    if buckets is None:
        buckets = _multi_table_buckets(e, "_id", "_v", num_tables, planes_per_table, dim)
    ids = buckets.select("_id", "_tbl", "_bucket")
    pairs = (
        ids.join(
            ids.select(F.col("_id").alias("id_b"), "_tbl", "_bucket"), ["_tbl", "_bucket"]
        )
        .where(F.col("_id") < F.col("id_b"))
        .select(F.col("_id").alias("id_a"), "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    side = (e, "_id", "_v")
    return _verify(pairs, "id_a", "id_b", side, side, dim).where(F.col("cos_sim") >= threshold)


# -- IVF (inverted-file) ANN ---------------------------------------------------


def _assign_clusters(
    df: DataFrame, id_col: str, vec_col: str, C: "np.ndarray", n_probe: int
) -> DataFrame:
    """(id, vec) → (id, cluster) rows for each of the ``n_probe`` nearest
    centroids (L2). One GEMM per Arrow batch against the closure-broadcast
    centroid matrix — the IVF coarse quantizer."""
    c_sq = (C * C).sum(axis=1)

    def mapper(batches):
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
    scored = _verify(pairs, "q_id", "c_id", (queries, q_id, q_vec), (corpus, c_id, c_vec), dim)
    return _top_k(scored, k)
