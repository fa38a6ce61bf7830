"""The one co-occurrence pair-count kernel: pairs of members that share keys.

The reference's co-spent-input pair generator (tests/RunUpdateWallets.java
:131-140) and the n-gram Jaccard family compute one relation — for every
pair of members (documents, parts) the number of keys (shingles, orders)
they share, i.e. (AᵀA)[a,b] over a member×key incidence list. Both run
here on one postings kernel (:func:`_block_pairs`). The postings closure
is built on the driver from a side collected through :mod:`.closure`;
where the kernel runs is chosen from a size the driver already holds,
the bytes the kernel would hold in-process (:func:`footprint`): within
``closure.BUDGET_BYTES`` it runs in-process, above it the closure is
broadcast and executor tasks run the same kernel per row block.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import closure

SCHEMA = "id_a long, id_b long, _c long, _na int, _nb int"
SUB = 256  # rows per sort-count sub-block (cache resident)
# what the kernel holds in-process (see footprint): a kept pair's row of
# SCHEMA, and a sub-block's work arrays per pair touch and per incidence
# (measured peaks stay under the sum, at most 0.96 of it, over corpora of
# 40-3 000 docs, 3-120 keys a doc, with and without hub columns)
KEPT_BYTES = 32
WORK_BYTES = 128
INC_BYTES = 128


def postings(ids, sizes, flat):
    """Dictionary-encode the flat key stream (string-exact dense column
    codes, Arrow C++), reorder rows into id order if needed, and build the
    postings arrays :func:`pairs` counts over. ``ids`` are the int64
    member ids, ``sizes`` each member's distinct-key count, and ``flat``
    its keys in row-major order: a pyarrow Array or a Python list of
    strings. Returns None when there is no incidence."""
    tot = int(sizes.sum())
    if tot == 0:
        return None
    if not isinstance(flat, (pa.Array, pa.ChunkedArray)):
        flat = pa.array(flat, type=pa.string())
    enc = pc.dictionary_encode(flat)
    if isinstance(enc, pa.ChunkedArray):
        enc = enc.combine_chunks()
    codes_raw = np.asarray(enc.indices, dtype=np.int32)
    vocab = enc.dictionary.to_numpy(zero_copy_only=False)
    if len(ids) > 1 and not bool(np.all(ids[:-1] < ids[1:])):
        # regather rows in id order so doc position order == id order
        # (skipped on the common already-sorted layout)
        order = np.argsort(ids, kind="stable")
        offsets = np.zeros(len(sizes) + 1, dtype=np.int64)
        np.cumsum(sizes, out=offsets[1:])
        lens = sizes[order]
        starts = offsets[:-1][order]
        csum = np.cumsum(lens)
        idx = np.repeat(starts, lens) + (
            np.arange(tot, dtype=np.int64) - np.repeat(csum - lens, lens)
        )
        codes_raw = codes_raw[idx]
        ids, sizes = ids[order], lens
    inc_codes = codes_raw.astype(np.int32, copy=False)
    sizes = sizes.astype(np.int32)
    n_docs = len(ids)
    row_ptr = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(sizes, out=row_ptr[1:])
    doc_of_inc = np.repeat(np.arange(n_docs, dtype=np.int64), sizes)
    porder = np.argsort(inc_codes, kind="stable")
    post_docs = doc_of_inc[porder].astype(np.int32)
    inc_pos = np.empty(tot, dtype=np.int32)
    inc_pos[porder] = np.arange(tot, dtype=np.int32)
    col_df = np.bincount(inc_codes, minlength=len(vocab))
    post_ptr = np.zeros(len(vocab) + 1, dtype=np.int64)
    np.cumsum(col_df, out=post_ptr[1:])
    return {
        "ids": ids,
        "sizes": sizes,
        "row_ptr": row_ptr,
        "inc_codes": inc_codes,
        "inc_pos": inc_pos,
        "post_docs": post_docs,
        "post_ptr": post_ptr,
        "col_df": col_df.astype(np.int32),
        "vocab": np.asarray(vocab, dtype=object),
        "n_docs": n_docs,
    }


def _count_sorted(keys):
    """(unique_keys, counts) via in-place sort + run-length — sequential
    memory access; np.bincount over the full keyspace thrashed ~100 MB of
    random writes per block under 32-way task contention."""
    keys.sort()
    change = np.empty(len(keys), dtype=bool)
    change[0] = True
    np.not_equal(keys[1:], keys[:-1], out=change[1:])
    idx = np.flatnonzero(change)
    counts = np.diff(np.append(idx, len(keys)))
    return keys[idx], counts


def footprint(v: dict) -> int:
    """Peak bytes the kernel holds when it runs in-process over the closure
    ``v`` (see :func:`pairs`): every pair touch may become a kept pair,
    and the largest SUB-row sub-block holds its work arrays while it
    counts. Known on the driver without a job."""
    own = v["inc_pos"].astype(np.int64)
    lens = np.where(own >= 0, v["post_ptr"][v["inc_codes"] + 1] - own - 1, 0)
    cs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=cs[1:])
    n = v["n_docs"]
    at = v["row_ptr"][np.r_[0:n:SUB, n]]
    return (
        KEPT_BYTES * int(cs[-1])
        + WORK_BYTES * int(np.diff(cs[at]).max())
        + INC_BYTES * int(np.diff(at).max())
    )


def pairs(
    spark,
    post: dict,
    threshold: float = 0.0,
    min_count: int = 1,
    max_col_freq: int | None = None,
) -> DataFrame:
    """(id_a, id_b, _c, _na, _nb): member pairs ``id_a < id_b`` sharing
    ``_c`` keys, with their key counts, kept when ``_c >= min_count`` and
    ``_c / (_na + _nb - _c) >= threshold``.

    Partners are gathered only with a LARGER doc position (upper triangle
    — every unordered pair counted exactly once, and position order is id
    order so ``id_a < id_b`` holds by construction), and (row, partner)
    co-incidences are sort-counted per ~256-row sub-block. Hub columns
    (df > ``max_col_freq``) are excluded from the gather — candidacy
    needs one shared NON-hub key, matching the join path of
    :func:`.dedup.ngram_jaccard_pairs` — and their exact per-pair overlap
    is added back from per-doc hub sets before the keep test.

    Placement: when the kernel's :func:`footprint` fits
    ``closure.BUDGET_BYTES`` it runs once in this process over all rows
    and the result enters Spark as an Arrow table (sf0.1: t05 ~1.3 M
    touches, 56-59 MiB; j06 1.2 M, 41 MiB); above it the closure is
    broadcast and ``spark.range(n_blocks).mapInPandas`` runs the same
    kernel per row block on the executors (t05 at sf1.0: 1.3·10^8
    touches, 3.9 s on 4 cores against 8.1 s in-process). The memory
    bound binds long before speed would: on 4 cores the in-process run
    stays the faster one up to ~20 M touches (1.4 s against 2.0 s; at
    46 M, 2.5 s against 2.1 s).
    """
    v = _closure(post, max_col_freq)
    n_docs = v["n_docs"]
    thr = float(threshold)
    if footprint(v) <= closure.BUDGET_BYTES:
        return spark.createDataFrame(_block_pairs(v, 0, n_docs, thr, min_count))

    sc = spark.sparkContext
    bc = sc.broadcast(v)
    n_blocks = min(max(sc.defaultParallelism * 4, 1), max(n_docs // 16, 1))
    bounds = np.linspace(0, n_docs, n_blocks + 1).astype(np.int64)

    def mapper(batches):
        v = bc.value
        for pdf in batches:
            for blk in pdf["id"].to_numpy():
                yield _block_pairs(
                    v, int(bounds[blk]), int(bounds[blk + 1]), thr, min_count
                ).to_pandas()

    blocks = spark.range(0, n_blocks, 1, numPartitions=n_blocks)
    return blocks.mapInPandas(mapper, SCHEMA)


def _closure(post: dict, max_col_freq: int | None) -> dict:
    """What :func:`_block_pairs` reads of ``post``: with hub columns
    (df > ``max_col_freq``) present, postings restricted to the non-hub
    columns plus per-doc hub sets for the exact add-back."""
    n_docs = post["n_docs"]
    v = {
        k: post[k]
        for k in ("ids", "sizes", "row_ptr", "inc_codes", "inc_pos",
                  "post_docs", "post_ptr", "n_docs")
    }
    if max_col_freq is None or not bool((post["col_df"] > max_col_freq).any()):
        v.update(hub_ptr=None, hub_vals=None)
        return v
    cap = int(max_col_freq)
    hub_col = post["col_df"] > cap
    nonhub_inc = ~hub_col[post["inc_codes"]]
    # postings restricted to non-hub columns, plus re-derived own-
    # position indices (hub incidences get -1 → zero-length slices)
    porder = np.argsort(post["inc_codes"][nonhub_inc], kind="stable")
    doc_of_inc = np.repeat(
        np.arange(n_docs, dtype=np.int64), post["sizes"].astype(np.int64)
    )
    nh_docs = doc_of_inc[nonhub_inc][porder].astype(np.int32)
    nh_pos = np.full(len(post["inc_codes"]), -1, dtype=np.int32)
    nh_pos[np.flatnonzero(nonhub_inc)[porder]] = np.arange(
        len(nh_docs), dtype=np.int32
    )
    nh_df = np.where(hub_col, 0, post["col_df"]).astype(np.int64)
    nh_ptr = np.zeros(len(post["col_df"]) + 1, dtype=np.int64)
    np.cumsum(nh_df, out=nh_ptr[1:])
    # per-doc hub column sets (sorted codes) for the exact add-back
    h_docs = doc_of_inc[~nonhub_inc]
    h_cols = post["inc_codes"][~nonhub_inc]
    horder = np.argsort(h_docs, kind="stable")
    hub_vals = h_cols[horder]
    hub_cnt = np.bincount(h_docs, minlength=n_docs)
    hub_ptr = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(hub_cnt, out=hub_ptr[1:])
    for d in np.flatnonzero(np.diff(hub_ptr) > 1):
        hub_vals[hub_ptr[d] : hub_ptr[d + 1]].sort()
    v.update(post_docs=nh_docs, post_ptr=nh_ptr, inc_pos=nh_pos,
             hub_ptr=hub_ptr, hub_vals=hub_vals)
    return v


def _block_pairs(v: dict, lo: int, hi: int, thr: float, min_count: int) -> pa.Table:
    """The kernel over doc positions ``[lo, hi)`` of the closure ``v``
    (see :func:`pairs`): the kept pairs as an Arrow table of
    :data:`SCHEMA`, one chunk a sub-block, so that what it keeps is held
    once, in its final 32 bytes a pair."""
    row_ptr, inc_codes, inc_pos = v["row_ptr"], v["inc_codes"], v["inc_pos"]
    pptr, pdocs = v["post_ptr"], v["post_docs"]
    ids_s, sizes_s, nd = v["ids"], v["sizes"], v["n_docs"]
    hub_ptr, hub_vals = v["hub_ptr"], v["hub_vals"]
    key32 = SUB * nd < 2**31 - 1
    outs = []
    for s0 in range(lo, hi, SUB):
        s1 = min(s0 + SUB, hi)
        a, b = row_ptr[s0], row_ptr[s1]
        k = inc_codes[a:b].astype(np.int64)
        own = inc_pos[a:b].astype(np.int64)
        brow = np.repeat(
            np.arange(s1 - s0, dtype=np.int64),
            sizes_s[s0:s1].astype(np.int64),
        )
        start = own + 1
        lens = np.where(own >= 0, pptr[k + 1] - start, 0)
        tot = int(lens.sum())
        if tot == 0:
            continue
        out_rows = np.repeat(brow, lens)
        csum = np.cumsum(lens)
        within = np.arange(tot, dtype=np.int64) - np.repeat(csum - lens, lens)
        flat = np.repeat(start, lens) + within
        out_docs = pdocs[flat].astype(np.int64)
        pk = out_rows * nd + out_docs
        uk, c = _count_sorted(pk.astype(np.int32) if key32 else pk)
        r = (uk // nd).astype(np.int64) + s0
        d = (uk % nd).astype(np.int64)
        na = sizes_s[r].astype(np.int64)
        nb = sizes_s[d].astype(np.int64)
        c = c.astype(np.int64)
        if hub_ptr is not None:
            ha = hub_ptr[r + 1] - hub_ptr[r]
            hb = hub_ptr[d + 1] - hub_ptr[d]
            m = np.minimum(ha, hb)
            jmax = (c + m).astype(np.float64) / (na + nb - c - m).astype(np.float64)
            for i in np.flatnonzero((jmax >= thr) & (m > 0)):
                ra, rb = r[i], d[i]
                c[i] += np.intersect1d(
                    hub_vals[hub_ptr[ra] : hub_ptr[ra + 1]],
                    hub_vals[hub_ptr[rb] : hub_ptr[rb + 1]],
                    assume_unique=True,
                ).size
        j = c.astype(np.float64) / (na + nb - c).astype(np.float64)
        keep = (j >= thr) & (c >= min_count)
        # createDataFrame drops every batch after an empty non-first one
        if keep.any():
            outs.append(_pair_table(ids_s, r[keep], d[keep], c[keep], na[keep], nb[keep]))
    if not outs:
        e = np.empty(0, dtype=np.int64)
        outs.append(_pair_table(ids_s, e, e, e, e, e))
    return pa.concat_tables(outs)


def _pair_table(ids, r, d, c, na, nb) -> pa.Table:
    return pa.table({
        "id_a": ids[r],
        "id_b": ids[d],
        "_c": c,
        "_na": na.astype(np.int32),
        "_nb": nb.astype(np.int32),
    })


def pair_counts(df: DataFrame, member: str, key: str, min_count: int) -> DataFrame | None:
    """(id_a, id_b, n): pairs of ``member`` values ``id_a < id_b`` that
    share ``n >= min_count`` distinct ``key`` values — the co-occurrence
    self-join ``GROUP BY a.member, b.member HAVING COUNT(*) >= min_count``
    over the distinct (key, member) rows, with null keys and members
    matching nothing. The (key, member) side is collected once at 16
    bytes a row within ``closure.BUDGET_BYTES``, deduplicated on the
    driver and counted by :func:`pairs`. Returns None over the budget,
    for an empty side, or when either column is not integral; the caller
    then runs its distributed plan."""
    types = [df.schema[c].dataType for c in (member, key)]
    if not all(isinstance(t, T.IntegralType) for t in types):
        return None
    tbl = closure.collect_bounded(
        df.select(F.col(member).alias("m"), F.col(key).alias("k")).dropna(),
        closure.BUDGET_BYTES,
        weight=F.lit(16),
    )
    if tbl is None:
        return None
    ids, m = np.unique(np.asarray(tbl.column("m"), dtype=np.int64), return_inverse=True)
    keys, k = np.unique(np.asarray(tbl.column("k"), dtype=np.int64), return_inverse=True)
    # distinct (member, key) rank pairs, member-major: a duplicated line
    # must not count twice
    inc = np.unique(m * len(keys) + k)
    sizes = np.bincount(inc // len(keys), minlength=len(ids))
    post = postings(ids, sizes, pa.array(inc % len(keys)))
    if post is None:
        return None
    out = pairs(df.sparkSession, post, min_count=min_count)
    return out.select(
        F.col("id_a").cast(types[0]).alias("id_a"),
        F.col("id_b").cast(types[0]).alias("id_b"),
        F.col("_c").alias("n"),
    )
