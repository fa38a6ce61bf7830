"""The benchmark's workloads: inputs, one operation, and its correctness check.

Each workload drives only public entry points of the package:
``kg.pipeline.run``, ``kg.pipeline.incremental_update`` and
``plans.queries()``. ``install`` registers the spans a traced operation
records (see trace.py); the program itself is never changed.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import statistics
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from btc_blockchain_scanner_spark import plans
from btc_blockchain_scanner_spark.kg import (
    canonicalize,
    checkpoints,
    datagen,
    extract,
    link,
    oracle,
    pipeline,
)
from btc_blockchain_scanner_spark.plans import kg_queries
from btc_blockchain_scanner_spark.sources import merge

from perfbench import tables
from perfbench.trace import blockmgr_mib, persisted_rdds


class OpResult:
    """What one operation did: its wall time, the work items it completed,
    and whatever the workload's check needs."""

    def __init__(self, seconds: float, items: int, detail=None):
        self.seconds = seconds
        self.items = items
        self.detail = detail


class Workload:
    name = ""

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def stage(self, i: int) -> None:
        """Write the inputs to ``path(f"input{i}")``; slot 0 is the one used."""
        raise NotImplementedError

    def op(self, k: int, span=nullcontext) -> OpResult:
        raise NotImplementedError

    def warmup(self) -> None:
        """Untimed work run inside set-up, before the first operation."""

    def check(self, res: OpResult) -> bool:
        raise NotImplementedError

    def items_per_s(self, res: OpResult) -> float:
        return res.items / res.seconds

    def parts_s(self, res: OpResult) -> dict[str, float]:
        """Wall times of the operation's parts, for the samples line."""
        return {}

    def after_op(self, k: int) -> None:
        """Untimed clean-up after operation ``k``."""

    def install(self, tracer) -> None:
        """Register the spans a traced operation records."""
        raise NotImplementedError

    def extract_probe(self) -> dict:
        """Traced run only: one forced write of the extraction over the
        workload's transcripts, timed on its own."""
        return {}

    def op_layer_metrics(self, res: OpResult) -> dict:
        return {}


def _stash_result(span, result, kwargs) -> None:
    span.attrs["result"] = result


def _cc_stats(args, kwargs) -> None:
    # stats_out is passed only in traced operations (production callers
    # pass none; on the distributed path it adds a count scan)
    kwargs.setdefault("stats_out", {})


def _cc_after(span, result, kwargs) -> None:
    sc = result.sparkSession.sparkContext
    span.attrs.update(kwargs["stats_out"])
    span.attrs["persisted_rdds"] = persisted_rdds(sc)
    span.attrs["blockmgr_mib"] = blockmgr_mib(sc)


def unmatched_surfaces(spans) -> int:
    """Surfaces that missed the alias dictionary (the LSH fuzzy path's
    input), counted after the operation from the frames link returned."""
    n = 0
    for s in spans:
        if s.name == "link.resolve":
            n += s.attrs["result"].where(F.col("match_type") != "exact").count()
    return n


def _read_turns(path: str) -> list[tuple[str, int, str]]:
    t = pq.read_table(path, columns=["conv_id", "turn_idx", "text"]).to_pydict()
    return list(zip(t["conv_id"], t["turn_idx"], t["text"]))


def _forced_extract(spark, frame, out: str, n_turns: int) -> dict:
    t0 = time.perf_counter()
    extract.triples_from(extract.extract(frame)).write.mode("overwrite").parquet(out)
    busy = time.perf_counter() - t0
    shutil.rmtree(out, ignore_errors=True)
    return {"extract.busy_s": busy, "extract.turns_per_s": n_turns / busy}


class KgPipeline(Workload):
    """The paper's update -> update_wallets sequence in one operation: a
    from-scratch ``pipeline.run`` over a staged corpus into a fresh
    directory, then one ``incremental_update`` batch of new conversations
    into the state that run wrote."""

    name = "kg_pipeline"
    build_convs = 2000
    batch_convs = 500
    n_parts = 8

    def stage(self, i: int) -> None:
        corpus = datagen.transcripts(
            self.spark, n_convs=self.build_convs + self.batch_convs, seed=self.seed
        )
        corpus.write.parquet(self.path(f"input{i}"))
        if i == 0:
            cut = f"conv_{self.build_convs:08d}"
            staged = self.spark.read.parquet(self.path("input0"))
            self.build = staged.where(F.col("conv_id") < cut)
            self.batch = staged.where(F.col("conv_id") >= cut)
            turns = _read_turns(self.path("input0"))
            self.build_turns = [t for t in turns if t[0] < cut]
            self.batch_turns = [t for t in turns if t[0] >= cut]
            self.expected = None

    def op(self, k: int, span=nullcontext) -> OpResult:
        out = self.path(f"out{k}")
        t0 = time.perf_counter()
        with span("pipeline.run"):
            built = pipeline.run(self.spark, self.build, out, n_parts=self.n_parts)
        t1 = time.perf_counter()
        with span("pipeline.incremental_update"):
            merged = pipeline.incremental_update(self.spark, self.batch, out)
        t2 = time.perf_counter()
        detail = {"out": out, "counters": built.counters, "merge": merged, "build_s": t1 - t0}
        return OpResult(t2 - t0, built.counters["triples_emitted"], detail)

    def items_per_s(self, res: OpResult) -> float:
        """Triples the build emitted per second of the build."""
        return res.items / res.detail["build_s"]

    def parts_s(self, res: OpResult) -> dict[str, float]:
        return {"build": res.detail["build_s"], "batch": res.seconds - res.detail["build_s"]}

    def install(self, tracer) -> None:
        tracer.wrap(checkpoints.Manifest, "validated_done", "checkpoints.validate")
        tracer.wrap(checkpoints.Manifest, "record", "checkpoints.record")
        tracer.wrap(link, "link_mentions", "link")
        tracer.wrap(link, "resolve_surfaces", "link.resolve", after=_stash_result)
        tracer.wrap(canonicalize, "canon_map", "canon")
        tracer.wrap(canonicalize, "incremental_canon_update", "canon")
        tracer.wrap(canonicalize, "connected_components", "cc", before=_cc_stats, after=_cc_after)
        tracer.wrap(merge, "merge_upsert", "merge")

    def after_op(self, k: int) -> None:
        shutil.rmtree(self.path(f"out{k}"), ignore_errors=True)

    def _expected(self) -> dict:
        """Reference counters of the build, and the entity keys and canonical
        components after the batch, from the single-threaded oracle."""
        o = oracle.run(self.build_turns)
        uf, edges = oracle.UnionFind(), set()
        per_turn: dict[tuple[str, int], set[str]] = {}
        for conv_id, turn_idx, text in self.build_turns + self.batch_turns:
            for _, surface, *_ in oracle.extract_turn(text)[0]:
                key = oracle.resolve(surface)
                uf.find(key)
                per_turn.setdefault((conv_id, turn_idx), set()).add(key)
        for members in per_turn.values():
            ms = sorted(members)
            for a, b in zip(ms, ms[1:]):
                uf.union(a, b)
                edges.add((a, b))
        components: dict[str, set[str]] = {}
        for key in uf.p:
            components.setdefault(uf.find(key), set()).add(key)
        return {
            "counters": {
                "turns_scanned": len(self.build_turns),
                "mentions_found": len(o["mentions"]),
                "triples_emitted": len(o["triples"]),
                "entities": len(o["entity_ids"]),
            },
            "components": {frozenset(c) for c in components.values()},
            "edges": edges,
        }

    def check(self, res: OpResult) -> bool:
        if self.expected is None:
            self.expected = self._expected()
        want = self.expected
        if any(res.detail["counters"][k] != v for k, v in want["counters"].items()):
            return False
        out = res.detail["out"]
        ents = pq.read_table(f"{out}/entities", columns=["entity_id", "display_name"]).to_pydict()
        names = dict(zip(ents["entity_id"], ents["display_name"]))
        canon = pq.read_table(f"{out}/canon_map").to_pydict()
        canon = dict(zip(canon["entity_id"], canon["canon_id"]))
        if set(canon) != set(names):
            return False
        got = {frozenset(names[e] for e in canon if canon[e] == c) for c in set(canon.values())}
        if got != want["components"]:
            return False
        ids = {v: k for k, v in names.items()}
        edges = self.spark.createDataFrame(
            [(ids[a], ids[b]) for a, b in sorted(want["edges"])], "src long, dst long"
        )
        return canonicalize.verify_fixpoint(self.spark.read.parquet(f"{out}/canon_map"), edges) == 0

    def op_layer_metrics(self, res: OpResult) -> dict:
        m = {f"{part}.s": v for part, v in self.parts_s(res).items()}
        m.update(
            {
                f"merge.{table}.{kind}": res.detail["merge"][table][kind]
                for table in ("entities", "canon_map")
                for kind in ("inserted", "updated")
            }
        )
        return m

    def extract_probe(self) -> dict:
        return _forced_extract(
            self.spark, self.build, self.path("extract_probe"), len(self.build_turns)
        )


GROUPS = {
    "scan": (
        "e01_hourly_event_rollup",
        "j02_left_coalesce",
        "j09_reconcile_snapshots",
        "f02_mention_flags",
        "q01_pricing_summary",
    ),
    "kernel": (
        "t05_ngram_jaccard_dups",
        "c01_decontamination",
        "t08_emb_top1_neighbor",
        "t10_emb_dup_exact",
        "j06_copart_pairs",
    ),
    "graph": ("g01_bfs_closure", "kg04_canonical_components", "kg05_entity_degree"),
}
QUERIES = tuple(q for group in GROUPS.values() for q in group)


def _canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _canon_rows(cols, rows) -> Counter:
    """Order-insensitive value multiset keyed by column name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_canon_cell(r[i]) for i in order) for r in rows)


def _shingles(text: str) -> set[str]:
    """Distinct word 3-grams, tokenised as the t05 / c01 oracle SQL does."""
    toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def shingle_pairs(path: str) -> dict[str, tuple[list[str], list[tuple]]]:
    """Reference results of t05 and c01: the relations their oracle SQL
    defines, counted exactly through an inverted shingle index.

    Every pair with a Jaccard of 0.5 or more, or with 3 or more shared
    shingles, shares a shingle, so counting the pairs of each shingle's
    documents finds them all. The oracle SQL compares all document pairs,
    which DuckDB needs about 16 s for at 500 documents and hours for 5 000."""
    docs = pq.read_table(path, columns=["doc_id", "text"]).to_pydict()
    sh = {d: _shingles(t) for d, t in zip(docs["doc_id"], docs["text"])}
    postings: dict[str, list[int]] = {}
    for d in sorted(sh):
        for s in sh[d]:
            postings.setdefault(s, []).append(d)
    shared: Counter = Counter()
    for ids in postings.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                shared[a, b] += 1
    t05, c01 = [], []
    for (a, b), n in shared.items():
        jacc = float(n) / float(len(sh[a]) + len(sh[b]) - n)
        if jacc >= 0.5:
            t05.append((a, b, jacc))
        if n >= 3 and (a % 20 == 0) != (b % 20 == 0):
            train, ev = (b, a) if a % 20 == 0 else (a, b)
            c01.append((train, ev, n))
    return {
        "t05_ngram_jaccard_dups": (["id_a", "id_b", "jacc"], t05),
        "c01_decontamination": (["train_id", "eval_id", "shared_shingles"], c01),
    }


class QueryMix(Workload):
    """One pass over 13 oracle-checked registered queries, each collected,
    over tables generated from the seed at the test data's sf0.1 shape."""

    name = "query_mix"
    sf = 0.1
    warmup_sf = 0.02

    def stage(self, i: int) -> None:
        tables.generate(self.path(f"input{i}"), self.sf, self.seed)
        if i == 0:
            self.sf_dir = self.path("input0")
            self.queries = plans.queries()

    def _oracle(self) -> dict[str, tuple[list[str], list[tuple]]]:
        import duckdb

        sf_dir = self.path("input0")
        out = shingle_pairs(f"{sf_dir}/documents.parquet")
        sqls = plans.oracle_sql()
        con = duckdb.connect()
        try:
            for t in tables.TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            for q in QUERIES:
                if q not in out:
                    res = con.execute(sqls[q])
                    out[q] = ([d[0] for d in res.description], res.fetchall())
            return out
        finally:
            con.close()

    def _run(self, names, span=nullcontext) -> tuple[dict, dict]:
        walls, rows = {}, {}
        for q in names:
            t0 = time.perf_counter()
            with span(f"q.{q}"):
                df = self.queries[q](self.spark, self.sf_dir)
                rows[q] = (df.columns, df.collect())
            walls[q] = time.perf_counter() - t0
        return walls, rows

    def op(self, k: int, span=nullcontext) -> OpResult:
        walls, rows = self._run(QUERIES, span)
        kernel_s = [sum(walls[q] for q in GROUPS["kernel"])]
        repeats = []
        if span is nullcontext and k >= 0:
            # untraced only: the kernel group once more, outside the pass's
            # time; items_per_s averages the two, damping the jitter of its
            # ~1 s queries
            r_walls, r_rows = self._run(GROUPS["kernel"])
            kernel_s.append(sum(r_walls.values()))
            repeats.append(r_rows)
        detail = {"walls": walls, "rows": rows, "kernel_s": kernel_s, "repeats": repeats}
        return OpResult(sum(walls.values()), len(QUERIES), detail)

    def warmup(self) -> None:
        """One pass over a fifth-size table set. It warms the JIT and the
        Python workers about as well as a full pass (the next full pass
        came within about 10 % of later ones) in four fifths of the time.
        The reference results are computed meanwhile; the first check
        waits for them, so no timed pass overlaps them."""
        pool = ThreadPoolExecutor(1)
        self.oracle = pool.submit(self._oracle)
        pool.shutdown(wait=False)
        tables.generate(self.path("warmup"), self.warmup_sf, self.seed)
        sf_dir, self.sf_dir = self.sf_dir, self.path("warmup")
        try:
            self.op(-1)
        finally:
            self.sf_dir = sf_dir

    def items_per_s(self, res: OpResult) -> float:
        """Queries of the kernel group per second of that group."""
        return len(GROUPS["kernel"]) / statistics.mean(res.detail["kernel_s"])

    def parts_s(self, res: OpResult) -> dict[str, float]:
        return res.detail["walls"]

    def check(self, res: OpResult) -> bool:
        oracle = self.oracle.result()
        for results in (res.detail["rows"], *res.detail["repeats"]):
            for q, (cols, rows) in results.items():
                d_cols, d_rows = oracle[q]
                if sorted(cols) != sorted(d_cols) or _canon_rows(cols, rows) != _canon_rows(
                    d_cols, d_rows
                ):
                    return False
        return True

    def install(self, tracer) -> None:
        tracer.wrap(kg_queries, "connected_components", "cc", before=_cc_stats, after=_cc_after)

    def op_layer_metrics(self, res: OpResult) -> dict:
        walls = res.detail["walls"]
        out = {f"q.{g}.s": sum(walls[q] for q in qs) for g, qs in GROUPS.items()}
        out.update({f"q.{q}.s": walls[q] for q in QUERIES})
        return out


WORKLOADS = {w.name: w for w in (KgPipeline, QueryMix)}
