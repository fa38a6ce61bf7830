"""Deterministic dense-id assignment: rank of md5(key), on the driver.

Reference analog M1 (SURVEY.md §2.7): DbCachedAddressOne.getOrAdd:91-115
assigns the next id from a single in-memory counter on one box. Every key
set this engine ranks is already held by the driver (link's distinct
entity keys, the kg03/kg04/kg12 surface sets, the tag names), so the rank
is a ``hashlib`` pass and a sort over those keys: no Spark job at all.

The id spec is ``offset + dense_rank() OVER (ORDER BY md5(key))``, which
is what the DuckDB oracles compute. Spark's ``md5`` is the lowercase hex
digest of the key's UTF-8 bytes, and hex order is digest-byte order, so
sorting on ``hashlib.md5(key).digest()`` yields byte-identical ids.
Determinism across parallelism levels follows from md5 being data-only.

Keys must be distinct and non-null (callers rank distinct key sets), so
the rank is dense; md5 collisions between distinct keys are the only
caveat and are vanishingly improbable.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa


def md5_rank(keys: pa.Array, offset: int = 0) -> pa.Array:
    """int64 ids aligned with ``keys``: ``offset`` + the 1-based rank of
    md5(key) among ``keys``."""
    digests = [hashlib.md5(k.encode()).digest() for k in keys.to_pylist()]
    ids = np.empty(len(digests), np.int64)
    ids[sorted(range(len(digests)), key=digests.__getitem__)] = np.arange(
        offset + 1, offset + len(digests) + 1
    )
    return pa.array(ids)
