"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup. Everything except candidate *verification* is a
single shuffle; nothing is quadratic in the corpus.

Reference analog: in-queue dup checks before writes (DbUpdateAddressOne
addMap containment) and the dedup write of graph nodes (SURVEY.md §2.1
S12/S13) — generalized here to content-level near-duplication.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import text as TX
from . import closure, cooccur, lsh


# -- exact -------------------------------------------------------------------


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group byte-identical texts by md5; emit (content_md5, n_docs, keep_id)
    for groups with >1 member. keep_id = min id (deterministic winner)."""
    return (
        docs.select(F.col(id_col), TX.content_hash(F.col(text_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


# -- n-gram Jaccard ----------------------------------------------------------


def shingle_docs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Standard (_id, _sh) shingle frame — the shared first stage of the
    Jaccard/MinHash family. Callers that run several dedup operators over
    the same corpus should build this ONCE, persist it, and pass it via
    the operators' ``sh=`` parameter (t06_dedup_recall does). The
    operators persist nothing themselves (nothing could release it inside
    their lazy results): without ``sh`` each branch that reads the
    shingles computes them.

    The (id, text) projection is spread to full parallelism before the
    Arrow shingle UDF — see :func:`.closure.spread` (r6: the sf1.0 corpus
    scanned as 2 splits and the UDF pass took 7.2 s on 2 cores vs ~1 s
    spread)."""
    return closure.spread(docs.select(
        F.col(id_col).alias("_id"), F.col(text_col)
    )).select(
        "_id", TX.word_shingles(F.col(text_col), n).alias("_sh")
    ).where(F.size("_sh") > 0)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
    sh: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, jacc) for pairs with word-n-gram Jaccard >= threshold.

    Two physically different plans, one contract (parity pytest-pinned):

    * **Postings-GEMM path** (taken when the ids are integral and the
      collected side — the raw texts, or the ``sh`` shingle strings —
      fits the driver budget of :mod:`.closure`): it is collected ONCE
      through Arrow, factorized to dense column codes on the driver
      (string-exact — no hashing, no collision modes), and counted by
      the one co-occurrence kernel, :func:`.cooccur.pairs`, with
      cache-resident numpy gathers. Where that kernel runs follows the
      bytes it would hold in-process (:func:`.cooccur.footprint`, from
      its pair touches over the non-hub shingles, known on the driver
      without a job): within the budget it runs in the driver process
      (sf0.1: 1.3 M touches, 56-59 MiB); above it the postings closure
      (~12 bytes/incidence + ~20/doc) is broadcast and tasks count their
      doc blocks' overlaps against the whole corpus. ZERO shuffles, one
      pass over the corpus; the 10^8 co-incidence touches of sf1.0 that
      previously went through a self-join + 120M-group hash aggregate
      (296 s) stay in numpy blocks (~4 s). Only pairs at or above the threshold leave Python.
    * **Shared-shingle join path** (fallback above the budget or for
      non-integral ids): explode → self-join on the shingle → arithmetic
      pair count, never a full cross join — unbounded-scale, one shuffle
      per stage.

    Shingles shared by more than ``max_shingle_freq`` docs ("hub"
    shingles — boilerplate) are EXCLUDED from candidate generation on both
    paths, because a shingle in d docs emits d(d-1)/2 candidate rows —
    quadratic blowup on adversarial/boilerplate corpora. The reported
    Jaccard stays EXACT: each doc's (tiny) hub-shingle subset is
    intersected back per candidate pair, so ``c = c_nonhub +
    |hub_A ∩ hub_B|``. The only semantic difference vs the uncapped
    operator is that a pair whose shared shingles are ALL hubs (both docs
    >= threshold-fraction pure boilerplate) is not emitted — the standard
    CCNet/Gopher-style dedup convention, identical on both paths.

    ``max_shingle_freq=None`` disables the cap (pure arithmetic path).
    """
    id_type = (
        sh.schema["_id"] if sh is not None else docs.schema[id_col]
    ).dataType.simpleString()
    post = (
        _try_text_postings(docs, id_col, text_col, n)
        if sh is None
        else _try_shingle_postings(sh)
    )
    if post is not None:
        out = cooccur.pairs(
            docs.sparkSession, post, threshold, max_col_freq=max_shingle_freq
        )
        return out.select(
            F.col("id_a").cast(id_type).alias("id_a"),
            F.col("id_b").cast(id_type).alias("id_b"),
            _jacc().alias("jacc"),
        )
    if sh is None:
        sh = shingle_docs(docs, id_col, text_col, n)
    return _jaccard_pairs_join(sh, threshold, max_shingle_freq)


def _jaccard_pairs_join(
    sh: DataFrame, threshold: float, max_shingle_freq: int | None
) -> DataFrame:
    """The distributed shared-shingle join plan (see
    :func:`ngram_jaccard_pairs`); unbounded scale, no driver state."""
    # _sh is a DISTINCT shingle array, so (id, shingle) rows are unique and
    # the shared-shingle count c per pair equals |A ∩ B| exactly — Jaccard
    # falls out arithmetically: j = c / (|A| + |B| - c). No second pass
    # over the arrays, no verify join; one shuffle for the pair groupBy.
    exploded = sh.select("_id", F.size("_sh").alias("_n"), F.explode("_sh").alias("_g"))

    n_hubs = 0
    if max_shingle_freq is not None:
        # Hub shingles number <= total_incidences / cap by construction —
        # collected once (the reference's hot-address-cache move) and
        # re-entered as a small broadcast DATAFRAME. Not a persist (it
        # would leak into the caller's long-lived session — t06's
        # unpersist sweep can't reach it) and not a literal
        # F.array(*[F.lit(g) ...]) (Catalyst analysis degrades at a few
        # thousand literal expressions, far below any useful cap).
        hubs = closure.collect_bounded(
            exploded.groupBy("_g")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_shingle_freq)
            .select("_g"),
            100_000,
        )
        if hubs is None:
            raise ValueError(
                "ngram_jaccard_pairs: >100k hub shingles above "
                f"max_shingle_freq={max_shingle_freq}; raise the cap or use "
                "minhash_lsh_pairs for this corpus"
            )
        n_hubs = hubs.num_rows
        exploded_all = exploded
        if n_hubs:
            hubs = sh.sparkSession.createDataFrame(hubs)
            exploded = exploded.join(F.broadcast(hubs), "_g", "left_anti")

    cand = (
        exploded.alias("a")
        .join(exploded.alias("b"), (F.col("a._g") == F.col("b._g")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._n").alias("_na"),
            F.col("b._n").alias("_nb"),
        )
        .agg(F.count("*").alias("_c"))
    )
    if n_hubs:
        # Add back the hub-shingle overlap so jacc is exact: each doc's hub
        # subset comes from a semi join against the hub dim (never a giant
        # literal array), re-packed per doc — bounded by n_hubs per row.
        hsub = (
            exploded_all.join(F.broadcast(hubs), "_g", "left_semi")
            .groupBy("_id")
            .agg(F.collect_list("_g").alias("_hub"))
        )
        empty = F.array().cast("array<string>")
        # plain equi-joins: cand is post-threshold-small, hsub is one tiny
        # array per doc; AQE picks broadcast for whichever side is small.
        # LEFT joins: docs with no hub shingles are absent from hsub.
        cand = (
            cand.join(hsub.withColumnRenamed("_id", "id_a").withColumnRenamed("_hub", "_ha"), "id_a", "left")
            .join(hsub.withColumnRenamed("_id", "id_b").withColumnRenamed("_hub", "_hb"), "id_b", "left")
            .withColumn(
                "_c",
                F.col("_c")
                + F.size(F.array_intersect(F.coalesce("_ha", empty), F.coalesce("_hb", empty))),
            )
        )
    return cand.select("id_a", "id_b", _jacc().alias("jacc")).where(F.col("jacc") >= threshold)


def _jacc() -> Column:
    """Jaccard from a pair's shared count ``_c`` and set sizes."""
    return F.col("_c").cast("double") / (F.col("_na") + F.col("_nb") - F.col("_c")).cast("double")


def _try_text_postings(docs: DataFrame, id_col: str, text_col: str, n: int):
    """Collect the corpus as raw (id, text) — ~8x fewer bytes than the
    shingle arrays — when its bytes fit the closure budget, and shingle on
    the driver with the shared pure-Python tokenizer
    (functions.text.shingle_list: identical semantics to the Arrow UDF by
    construction). Cuts the distributed shingle-UDF pass out of the GEMM
    path entirely: the corpus must be collected anyway, and 50k docs
    shingle in ~2 s flat on the driver vs a 3-5 s Python-worker stage.
    Returns the postings dict, or None over budget or for non-integral
    ids (decided from the schema, before any job; then the caller must
    use the distributed string join)."""
    import numpy as np

    if not isinstance(docs.schema[id_col].dataType, T.IntegralType):
        return None
    tbl = closure.collect_bounded(
        docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t")),
        closure.BUDGET_BYTES,
        weight=F.octet_length("_t") + 8,
    )
    if tbl is None:
        return None
    ids = np.asarray(tbl.column("_id"), dtype=np.int64)
    texts = tbl.column("_t").to_pylist()
    flat: list[str] = []
    sizes = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        shl = TX.shingle_list(t, n)
        sizes[i] = len(shl)
        flat.extend(shl)
    keep = sizes > 0  # mirror shingle_docs' size(_sh) > 0 filter
    if not keep.all():
        ids, sizes = ids[keep], sizes[keep]
    return cooccur.postings(ids, sizes, flat)


def _try_shingle_postings(sh: DataFrame):
    """Collect an existing (_id, _sh) shingle frame (persisted by the
    caller — the t06 stage-sharing shape) when its shingle strings fit the
    closure budget, and build the postings closure. Returns None like
    :func:`_try_text_postings`."""
    import numpy as np

    if not isinstance(sh.schema["_id"].dataType, T.IntegralType):
        return None
    tbl = closure.collect_bounded(
        sh.select("_id", "_sh"),
        closure.BUDGET_BYTES,
        weight=F.octet_length(F.array_join("_sh", " ")) + 8,
    )
    if tbl is None:
        return None
    ids = np.asarray(tbl.column("_id"), dtype=np.int64)
    import pyarrow.compute as pc

    scol = tbl.column("_sh").combine_chunks()
    sizes = np.asarray(pc.list_value_length(scol), dtype=np.int64)
    return cooccur.postings(ids, sizes, scol.flatten())


def cross_contamination(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_shared: int = 8,
) -> DataFrame:
    """Benchmark-decontamination pass: flag training docs sharing at least
    ``min_shared`` distinct word-n-gram shingles with ANY eval doc.

    The standard pre-training hygiene step (the cross-table twin of
    :func:`ngram_jaccard_pairs`): both sides shingle once, candidates come
    from an equi-join on the shingle — at production scale the eval side
    is tiny relative to the corpus, so its exploded shingle set broadcasts
    and the train side streams through map-side, no shuffle of the corpus.
    Output: (train_id, eval_id, shared_shingles) per contaminated pair,
    one row per (train, eval) hit — callers `.select("train_id").distinct()`
    for the drop list.

    The "eval side is tiny" assumption is CHECKED, not assumed (ADVICE
    r4): one aggregate sums the eval texts' bytes first, and the eval side
    is collected only when that sum fits the driver budget of
    :mod:`.closure`; above it — a huge eval suite or very long eval docs —
    the plan is one plain shuffle join and AQE picks the strategy,
    instead of the driver heap taking the eval set.

    r6 plan change: the eligible path is now the postings-GEMM twin of
    :func:`ngram_jaccard_pairs` — eval postings broadcast, train side
    streamed through a numpy gather-count ``mapInPandas`` that matches
    shingle STRINGS against the eval vocabulary (string-exact, no
    hashing); NOTHING is shuffled (the previous plan shuffled the
    ~|train shingles ∩ eval vocabulary| join product into a pair groupBy:
    12.8M rows / 22.4 s at sf1.0 → ~5 s).
    """
    post = _try_text_postings(evalset, id_col, text_col, n)
    if post is not None:
        return _cross_overlap_gemm(train, id_col, text_col, n, post, min_shared)
    tsh = shingle_docs(train, id_col, text_col, n)
    esh = shingle_docs(evalset, id_col, text_col, n)
    ts = tsh.select(F.col("_id").alias("train_id"), F.explode("_sh").alias("_g"))
    es = esh.select(F.col("_id").alias("eval_id"), F.explode("_sh").alias("_g"))
    # _sh is distinct per doc, so the join-count equals |shingles(train) ∩
    # shingles(eval)| exactly — same arithmetic-overlap trick as Jaccard
    return (
        ts.join(es, "_g")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("shared_shingles"))
        .where(F.col("shared_shingles") >= min_shared)
    )


def _cross_overlap_gemm(
    train: DataFrame, id_col: str, text_col: str, n: int, post: dict, min_shared: int
) -> DataFrame:
    """Stream the train side's RAW TEXT against the broadcast EVAL
    postings (see :func:`cross_contamination`): each batch shingles its
    texts in-process (functions.text.shingle_list — identical semantics
    to the Arrow UDF), resolves each shingle STRING to an eval column
    code (``pd.Index.get_indexer``; absent → -1, dropped), gathers the
    column's posting list, sort-counts (train_row, eval_doc)
    co-incidences, and emits pairs with >= ``min_shared`` overlaps. One
    Python stage over the corpus, nothing shuffled; string matching is
    exact by construction. No triangle slice (the sides are distinct) and
    no hub handling (contamination counts every shared shingle,
    boilerplate included — same as the join plan)."""
    import numpy as np

    sc = train.sparkSession.sparkContext
    train_id_type = train.schema[id_col].dataType.simpleString()
    bc = sc.broadcast(
        {k: post[k] for k in ("ids", "vocab", "post_ptr", "post_docs", "n_docs")}
    )
    min_c = int(min_shared)
    ngram = int(n)
    SUB = cooccur.SUB

    def mapper(batches):
        v = bc.value
        vocab_index = pd.Index(v["vocab"])
        pptr, pdocs = v["post_ptr"], v["post_docs"]
        eids, n_docs = v["ids"], v["n_docs"]
        for pdf in batches:
            bids_all = pdf["_id"].to_numpy()
            outs = [pd.DataFrame({"train_id": bids_all[:0], "eval_id": eids[:0],
                                  "shared_shingles": eids[:0]})]
            for s0 in range(0, len(pdf), SUB):
                texts = pdf["_t"].iloc[s0 : s0 + SUB]
                bl = [TX.shingle_list(t, ngram) for t in texts]
                bn = np.array([len(x) for x in bl], dtype=np.int64)
                flat: list[str] = []
                for x in bl:
                    flat.extend(x)
                brow = np.repeat(np.arange(len(bl), dtype=np.int64), bn)
                k = vocab_index.get_indexer(np.asarray(flat, dtype=object))
                ok = k >= 0  # train shingles absent from eval drop here
                brow, k = brow[ok], k[ok]
                r, d, c = cooccur.gather_counts(brow, pptr[k], pptr[k + 1] - pptr[k], pdocs, n_docs)
                keep = c >= min_c
                outs.append(
                    pd.DataFrame(
                        {
                            "train_id": bids_all[s0 : s0 + SUB][r[keep]],
                            "eval_id": eids[d[keep]],
                            "shared_shingles": c[keep],
                        }
                    )
                )
            yield pd.concat(outs)

    stream = closure.spread(
        train.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    )
    out = stream.mapInPandas(mapper, "train_id long, eval_id long, shared_shingles long")
    return out.select(
        F.col("train_id").cast(train_id_type).alias("train_id"),
        F.col("eval_id").cast(train_id_type).alias("eval_id"),
        F.col("shared_shingles"),
    )


# -- embedding-cosine near-dup -------------------------------------------------


def embedding_dup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_tables: int = 8,
    planes_per_table: int = 6,
    dim: int = 64,
    exact: bool = False,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, cos_sim) pairs with cosine >= threshold.

    Scale path (default): multi-table hyperplane-LSH candidates → exact
    cosine verify — at threshold 0.9 (angle <= 26°) a 6-plane table
    collides with p ~ (1-26/180)^6 ≈ 0.38, OR-amplified over 8 tables to
    ~0.98 recall. ``exact=True`` switches to the O(n²) block GEMM: the
    corpus, which must fit the driver budget of :mod:`.closure` (else
    ValueError — use ``exact=False``), is collected once and broadcast,
    and a ``mapInPandas`` scores each streamed batch against it (used by
    the sf0.01 oracle gate where n=500).

    ``buckets``: optional pre-computed (persisted) ``_multi_table_buckets``
    frame over the same corpus/params — shares the signature GEMM across
    operators AND across this function's own self-join sides (an
    unpersisted frame would re-run the GEMM once per side).
    """
    from . import similarity

    e = embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if exact:
        # calibration baseline: the bounded corpus is collected once and
        # closure-broadcast into a numpy-GEMM mapInPandas — each Arrow
        # batch computes its block row of the similarity matrix (BLAS) and
        # emits only pairs above threshold. Measured ~15x over the
        # HOF-fold cross join at 2000x64.
        import numpy as np

        vecs = closure.vectors(e, "_id", "_v", dim)
        if vecs is None:
            raise ValueError("embedding_dup_pairs: corpus over closure.BUDGET_BYTES; use exact=False")
        ids, M = vecs
        mn = np.linalg.norm(M, axis=1)
        thr = float(threshold)

        MT = np.ascontiguousarray(M.T)
        mn_safe = np.where(mn == 0, np.inf, mn)

        def mapper(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                C = np.array(list(pdf["_v"]), dtype=np.float64)
                cids = pdf["_id"].to_numpy()
                cn = np.linalg.norm(C, axis=1)
                cn_safe = np.where(cn == 0, np.inf, cn)
                # corpus-axis chunking: a full C @ M.T block was ~100 MB of
                # float64 per task (x32 concurrent tasks = GBs of transient
                # allocations — measured as in-bench drag); 2048-column
                # chunks stay cache-resident (r6). zero-norm guard: inf
                # divisor → cos 0, which cleanly fails the threshold
                # instead of producing NaN (NaN >= t is False in numpy but
                # poisons any later ordering).
                CHUNK = 2048
                outs = []
                for c0 in range(0, MT.shape[1], CHUNK):
                    S = (C @ MT[:, c0 : c0 + CHUNK]) / np.outer(
                        cn_safe, mn_safe[c0 : c0 + CHUNK]
                    )
                    mask = (S >= thr) & (cids[:, None] < ids[None, c0 : c0 + CHUNK])
                    ai, bj = np.nonzero(mask)
                    outs.append(
                        pd.DataFrame(
                            {
                                "id_a": cids[ai],
                                "id_b": ids[c0 + bj],
                                "cos_sim": S[ai, bj],
                            }
                        )
                    )
                yield (
                    pd.concat(outs)
                    if outs
                    else pd.DataFrame(
                        {"id_a": pd.Series(dtype="int64"),
                         "id_b": pd.Series(dtype="int64"),
                         "cos_sim": pd.Series(dtype="float64")}
                    )
                )

        # spread: the sf1.0 embeddings table scans as 2 splits — without
        # it the block-GEMM runs on 2 of 32 cores (t10: 31.9 s → 3.4 s)
        return closure.spread(e).mapInPandas(mapper, "id_a long, id_b long, cos_sim double")
    # candidate generation carries ONLY ids through the bucket join and
    # the dedup shuffle (the vectors would multiply shuffle bytes by
    # ~50x); vectors re-attach at the verify stage.
    if buckets is None:
        buckets = similarity._multi_table_buckets(e, "_id", "_v", num_tables, planes_per_table, dim)
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
    scored = similarity._verify(pairs, "id_a", "id_b", side, side, dim)
    return scored.where(F.col("cos_sim") >= threshold)


# -- winnowing fingerprints ---------------------------------------------------


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Document fingerprinting by winnowing (Schleimer/Wilkerson/Aiken):
    hash all k-gram shingles, keep the minimum hash of every sliding window
    of `window` consecutive shingles, emit the distinct selected hashes.

    Guarantee: any shared substring of >= k+window-1 words produces at
    least one shared fingerprint — the standard plagiarism/near-dup sketch.
    Output: (id, fingerprint long) exploded rows, ready for a groupBy join.
    Pure higher-order functions; hashes staged behind an exchange.

    Windows slide over the POSITIONAL k-gram stream (repeats kept) — a
    distinct-ified shingle array would change window composition for texts
    with recurring k-grams and void the guarantee; only the final selected
    fingerprints are deduped.
    """
    sh = docs.select(
        F.col(id_col).alias("_id"),
        TX.word_shingles_positional(F.col(text_col), k).alias("_sh"),
    ).where(F.size("_sh") >= 1)
    hashed = sh.select(
        "_id", F.transform("_sh", lambda s: F.xxhash64(s)).alias("_h")
    ).repartition(F.col("_id"))
    n = F.size("_h")
    starts = F.when(n >= window, F.sequence(F.lit(1), n - window + 1)).otherwise(
        F.sequence(F.lit(1), F.lit(1))
    )
    mins = F.transform(
        starts, lambda i: F.array_min(F.slice(F.col("_h"), i, window))
    )
    return (
        hashed.select("_id", F.explode(F.array_distinct(mins)).alias("fingerprint"))
        .withColumnRenamed("_id", id_col)
    )


def winnow_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 3,
) -> DataFrame:
    """Near-dup pairs sharing >= min_shared winnowing fingerprints —
    one explode + one shuffle groupBy, no quadratic pass."""
    fp = winnow_fingerprints(docs, id_col, text_col, k, window)
    pairs = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("shared_fingerprints"))
        .where(F.col("shared_fingerprints") >= min_shared)
    )
    return pairs


# -- MinHash + LSH -----------------------------------------------------------


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    num_bands: int = 8,
    threshold: float = 0.5,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    Same output contract as :func:`ngram_jaccard_pairs` but candidate
    generation is O(docs x bands) — the 100 TB path. With 32 perms / 8
    bands (r=4), P(candidate) = 1-(1-j^4)^8: ~0.97 at j=0.7, ~0.22 at
    j=0.3 — recall at the threshold comes from the verify step pruning
    false positives, not from banding alone.
    """
    if sh is None:
        sh = shingle_docs(docs, id_col, text_col, n)
    cand = lsh.candidate_pairs(lsh.band_buckets(sh, "_id", "_sh", num_perm, num_bands))
    verified = (
        cand.join(sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
        .select("id_a", "id_b", lsh.jaccard(F.col("sh_a"), F.col("sh_b")).alias("jacc"))
        .where(F.col("jacc") >= threshold)
    )
    return verified


# -- SimHash -----------------------------------------------------------------


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(_id, _sig) SimHash-64 signatures.

    Token hashes stay JVM-side (xxhash64 — the hash family is part of the
    signature spec); the 64 bit-votes run as an Arrow-batched numpy UDF:
    the Column form is 64 interpreted F.aggregate folds over the token
    array (the same interpreted-fold cost family as the shingle/banding
    fixes), while the numpy bit-matrix computes identical signatures in
    one vectorized pass — parity asserted in tests/test_text_ops.py.
    """
    hashed = closure.spread(docs.select(F.col(id_col).alias("_id"), F.col(text_col))).select(
        "_id",
        F.transform(TX.tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias("_h"),
    )
    return hashed.select("_id", _simhash_arrow_udf()(F.col("_h")).alias("_sig"))


@lru_cache(maxsize=1)
def _simhash_arrow_udf():
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(64, dtype=np.uint64)
    weights = np.uint64(1) << shifts

    @pandas_udf("long")
    def udf(hashes: pd.Series) -> pd.Series:
        out = np.zeros(len(hashes), dtype=np.uint64)
        for i, arr in enumerate(hashes):
            if arr is None or len(arr) == 0:
                continue
            H = np.asarray(arr, dtype=np.int64).view(np.uint64)
            ones = ((H[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            # vote_k = (+1 per set bit, -1 per clear bit) = 2*ones - n;
            # signature bit k set iff vote > 0 — identical to the Column
            # spec in tests/test_text_ops.py
            out[i] = weights[(2 * ones) > len(H)].sum()
        return pd.Series(out.view(np.int64))

    return udf


def simhash_pairs_exact(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Brute-force SimHash pairs (O(n²) popcount cross join) — the
    calibration baseline the banded path is measured against. The banding
    is pigeonhole-EXACT, so recall vs this baseline must be 1.0."""
    if sigs is None:
        sigs = simhash_signatures(docs, id_col, text_col)
    a = sigs.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"))
    b = sigs.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"))
    pairs = F.broadcast(a).crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def simhash_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming.

    Scale path: 4-block banding (Charikar/Manku) — split the 64-bit
    signature into max_hamming+1 16-bit blocks; any pair within distance
    max_hamming agrees exactly on >=1 block (pigeonhole), so candidates
    come from a groupBy on (block_idx, block_value), then popcount
    verifies. No quadratic pass. Pass a persisted ``sigs`` to compute the
    signatures once (t06 shares them with :func:`simhash_pairs_exact`);
    without it each join side computes them.
    """
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    if sigs is None:
        sigs = simhash_signatures(docs, id_col, text_col)
    blocks = sigs.select(
        "_id",
        "_sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("_sig"), i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("_blk_idx", "_blk"),
    )
    cand = (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a._blk_idx") == F.col("b._blk_idx"))
            & (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._sig").alias("sig_a"),
            F.col("b._sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )
