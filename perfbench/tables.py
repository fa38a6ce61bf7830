"""Seeded generator for the star-schema tables the ``query_mix`` workload reads.

Writes one parquet file per table (``<dir>/<name>.parquet``) with the column
names and types of the repository's read-only test data, so the registered
queries and their DuckDB oracle SQL run unchanged. Every value is a pure
function of ``seed``: the same seed writes the same tables.

The shape follows the sf0.1 test data, measured column by column (see
README.md, "Input tables"):

- row counts are linear in ``sf``: at sf0.1, 15 000 customers, 1 000
  suppliers, 20 000 parts, 150 000 orders, 600 000 line items (each on a
  uniformly drawn order, so orders hold a Poisson(4) number of lines),
  100 000 events over 1 500 users, 5 000 documents, 2 000 embeddings;
- documents are 10-100 words drawn uniformly from a 30-word vocabulary;
  one in twenty is a near-duplicate of another document: its copy with the
  word ``dup`` inserted (word-3-gram Jaccard 0.92-1.0 to its source);
- embeddings are isotropic random unit vectors in 64 dimensions with a
  label drawn from 10, so about 0.2 % of pairs reach cosine 0.35 (t10)
  and no two vectors are equal.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("blue", "red", "green", "small", "hot", "cold", "big", "old")
NOUNS = ("anvil", "widget", "bolt", "gear", "ring", "nut", "spring", "valve")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.412, 0.151, 0.149, 0.140, 0.148)
DUP_SHARE = 0.05
DAY_US = 86_400 * 1_000_000
TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _pick(rng: np.random.Generator, choices, n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: str, offsets: np.ndarray) -> pa.Array:
    t0 = np.datetime64(base, "us").astype(np.int64)
    return pa.array(t0 + offsets.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array(np.char.add(f"{prefix}#", np.char.zfill(np.arange(n).astype(str), 9)))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), int(k))]) for k in rng.integers(10, 101, n)]
    dups = np.flatnonzero(rng.random(n) < DUP_SHARE)
    originals = np.setdiff1d(np.arange(n), dups)
    for i, src in zip(dups, rng.choice(originals, len(dups))):
        toks = texts[src].split()
        toks.insert(int(rng.integers(0, len(toks) + 1)), "dup")
        texts[i] = " ".join(toks)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vec = rng.normal(size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), dim).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts by table."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)

    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    np.char.add(
                        np.char.add(np.asarray(COLORS)[rng.integers(0, 8, n_part)], " "),
                        np.asarray(NOUNS)[rng.integers(0, 8, n_part)],
                    )
                ),
                "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n_ord)),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
                "l_linestatus": _pick(rng, ("F", "O"), n_li),
                "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n_li)),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": pa.array(
                    np.datetime64("2024-01-01", "us").astype(np.int64)
                    + np.sort(rng.integers(0, 30 * DAY_US, n_ev)),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": pa.array(
                    np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")
                ),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
