"""One benchmark run of one workload, in one Spark session (see README.md).

Started by run.py, which pins the environment. Writes the result object and
the run's detail (per-operation samples, set-up timeline) to
``<workdir>/result.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
sys.path.insert(0, os.getcwd())

from btc_blockchain_scanner_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402

from perfbench.trace import Tracer, blockmgr_mib, covered, persisted_rdds  # noqa: E402
from perfbench.workloads import QUERIES, WORKLOADS, unmatched_surfaces  # noqa: E402

STAGINGS = 3  # set-up staging repeats; setup_s uses their median

END_TO_END = {"setup_s": "s", "op_s_p50": "s", "items_per_s": "items/s"}

PER_LAYER = {
    "fail_ratio": "ratio",
    "op.s": "s",
    "op.jobs": "count",
    "op.stages": "count",
    "pipeline.self_s": "s",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "extract.busy_s": "s",
    "extract.turns_per_s": "turns/s",
    "checkpoints.validate_s": "s",
    "checkpoints.record_s": "s",
    "checkpoints.jobs": "count",
    "link.busy_s": "s",
    "link.jobs": "count",
    "link.unmatched_surfaces": "count",
    "canon.busy_s": "s",
    "canon.jobs": "count",
    "cc.busy_s": "s",
    "cc.jobs": "count",
    "cc.calls": "count",
    "cc.distributed_calls": "count",
    "cc.rounds": "count",
    "cc.persisted_rdds_after": "count",
    "cc.blockmgr_mib_after": "MiB",
    "build.s": "s",
    "batch.s": "s",
    "pipeline.run.jobs": "count",
    "pipeline.incremental_update.jobs": "count",
    "merge.busy_s": "s",
    "merge.jobs": "count",
    **{
        f"merge.{t}.{k}": "rows"
        for t in ("entities", "canon_map")
        for k in ("inserted", "updated")
    },
    **{f"q.{g}.s": "s" for g in ("scan", "kernel", "graph")},
    **{f"q.{q}.{m}": u for q in QUERIES for m, u in (("s", "s"), ("jobs", "count"))},
    "spark.persisted_rdds": "count",
    "spark.persisted_rdds_growth": "count",
    "spark.blockmgr_mib": "MiB",
    "spark.blockmgr_mib_growth": "MiB",
    "trace.overhead_ratio": "ratio",
    "trace.bookkeeping_s": "s",
}


def settle(spark) -> None:
    """Between operations: drop cached data and collect garbage on both sides."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def layer_metrics(tracer: Tracer, wl, k: int, res) -> dict:
    """Per-layer numbers of traced operation ``k``."""
    spans = tracer.op_spans(k)
    root = next(s for s in spans if s.parent is None)
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(id(s.parent), []).append(s)

    own = {id(s): tracer.jobs_of(s) for s in spans}

    def inclusive(s) -> list[int]:
        jobs = list(own[id(s)])
        for c in children.get(id(s), []):
            jobs += inclusive(c)
        return jobs

    def named(prefix: str) -> list:
        return [s for s in spans if s.name == prefix or s.name.startswith(prefix + ".")]

    def busy(prefix: str) -> float:
        return covered([(s.start, s.end) for s in named(prefix)])

    def jobs(prefix: str) -> int:
        outer = [s for s in named(prefix) if not s.parent or not s.parent.name.startswith(prefix)]
        return sum(len(inclusive(s)) for s in outer)

    all_jobs = inclusive(root)
    cc = named("cc")
    own_s = root.attrs["bookkeeping_s"]
    m = {
        "op.s": res.seconds,
        "trace.bookkeeping_s": own_s,
        "trace.overhead_ratio": res.seconds / (res.seconds - own_s),
        "op.jobs": len(all_jobs),
        "op.stages": tracer.stages_of(all_jobs),
        "checkpoints.validate_s": busy("checkpoints.validate"),
        "checkpoints.record_s": busy("checkpoints.record"),
        "checkpoints.jobs": jobs("checkpoints"),
        "link.busy_s": busy("link"),
        "link.jobs": jobs("link"),
        "canon.busy_s": busy("canon"),
        "canon.jobs": jobs("canon"),
        "cc.busy_s": busy("cc"),
        "cc.jobs": jobs("cc"),
        "cc.calls": len(cc),
        "cc.distributed_calls": sum(s.attrs.get("path") == "distributed" for s in cc),
        "cc.rounds": sum(s.attrs.get("rounds", 0) for s in cc),
        "merge.busy_s": busy("merge"),
        "merge.jobs": jobs("merge"),
    }
    if cc:
        last = max(cc, key=lambda s: s.end)
        m["cc.persisted_rdds_after"] = last.attrs["persisted_rdds"]
        m["cc.blockmgr_mib_after"] = last.attrs["blockmgr_mib"]
    entry = [s for s in spans if s.name.startswith("pipeline.")]
    if entry:
        # orchestration: the entry points' own time and jobs, plus the jobs
        # their pool threads submit outside any span (counted on the root)
        own_jobs = own[id(root)] + [j for s in entry for j in own[id(s)]]
        m["pipeline.self_s"] = sum(
            s.duration - covered([(c.start, c.end) for c in children.get(id(s), [])])
            for s in entry
        )
        m["pipeline.jobs"] = len(own_jobs)
        m["pipeline.stages"] = tracer.stages_of(own_jobs)
        for s in entry:
            m[f"{s.name}.jobs"] = len(inclusive(s))
    for s in spans:
        if s.name.startswith("q."):
            m[f"{s.name}.jobs"] = len(inclusive(s))
    m.update(wl.op_layer_metrics(res))
    m["link.unmatched_surfaces"] = unmatched_surfaces(spans)
    return m


def run(args) -> dict:
    t0 = time.perf_counter()
    spark = get_spark(
        master=f"local[{DEFAULT_CPUS}]",
        shuffle_partitions=DEFAULT_CPUS,
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    session_s = time.perf_counter() - t0
    try:
        return measure(spark, args, session_s)
    finally:
        spark.stop()


def measure(spark, args, session_s: float) -> dict:
    wl = WORKLOADS[args.workload](spark, args.workdir, args.seed)
    sc = spark.sparkContext

    stage_s = []
    for i in range(STAGINGS):
        t0 = time.perf_counter()
        wl.stage(i)
        stage_s.append(time.perf_counter() - t0)
    for i in range(1, STAGINGS):
        shutil.rmtree(wl.path(f"input{i}"))
    t0 = time.perf_counter()
    wl.warmup()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(stage_s) + warm_s
    settle(spark)
    t_setup = time.perf_counter()

    # Untraced: operations back to back until --seconds have passed.
    # Traced: two traced operations. The first sits where an untraced run
    # measures, so its layer numbers explain that figure; the second shows
    # whether job counts and storage repeat from one operation to the next.
    pattern = (True, True) if args.trace else (False,)
    tracer = Tracer(sc) if args.trace else None
    if tracer:
        wl.install(tracer)
    samples: list[dict] = []
    layers: list[dict] = []
    t_start = time.perf_counter()
    k = 0
    while k < len(pattern) or (not args.trace and time.perf_counter() - t_start < args.seconds):
        traced = k < len(pattern) and pattern[k]
        if traced:
            with tracer.op(k):
                res = wl.op(k, span=tracer.span)
            layers.append(layer_metrics(tracer, wl, k, res))
        else:
            res = wl.op(k)
        ok = wl.check(res)
        samples.append(
            {
                "traced": traced,
                "s": res.seconds,
                "items_per_s": wl.items_per_s(res),
                "ok": ok,
                "parts_s": wl.parts_s(res),
            }
        )
        wl.after_op(k)
        settle(spark)
        # what survives the clean-up: drift shows as growth over the ops
        samples[-1]["persisted_rdds"] = persisted_rdds(sc)
        samples[-1]["blockmgr_mib"] = blockmgr_mib(sc)
        k += 1
    t_loop = time.perf_counter()

    oks = [s["ok"] for s in samples]
    attempted, failed = len(oks), oks.count(False)
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "op_s_p50": statistics.median(s["s"] for s in samples),
            "items_per_s": statistics.median(s["items_per_s"] for s in samples),
        }
        units = END_TO_END
    else:
        metrics = dict.fromkeys(PER_LAYER, 0)
        metrics.update(layers[0])
        # query times and the tracer's cost: medians over the traced ops
        for name in layers[0]:
            if name.startswith("trace.") or (name.startswith("q.") and name.endswith(".s")):
                metrics[name] = statistics.median(m[name] for m in layers)
        metrics.update(wl.extract_probe())
        metrics["fail_ratio"] = failed / attempted
        for name in ("persisted_rdds", "blockmgr_mib"):
            metrics[f"spark.{name}"] = samples[-1][name]
            metrics[f"spark.{name}_growth"] = samples[-1][name] - samples[0][name]
        units = PER_LAYER
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": DEFAULT_CPUS,
        "session_s": session_s,
        "stage_s": stage_s,
        "warmup_s": warm_s,
        "timeline_s": {"setup_end": t_setup - T_START, "loop_end": t_loop - T_START},
        "samples": samples,
        "op_jobs": [m["op.jobs"] for m in layers],
        "layers_later": layers[1:],
    }
    return {
        "detail": detail,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    args = ap.parse_args()
    out = run(args)
    with open(os.path.join(args.workdir, "result.json"), "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
