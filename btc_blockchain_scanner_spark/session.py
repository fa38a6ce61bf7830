"""SparkSession factory with scale-oriented defaults.

The reference hand-tunes a thread topology (30 scan threads, 4 writer threads,
10k-60k row batches — RunFullScan.java:95-98, DbUpdate.java:71-76). On Spark the
equivalent knobs are shuffle partitioning, AQE, and Arrow batching; everything
else (pipelining, backpressure, spill) is the engine's job.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

# Number of local cores the driver benchmarks with (see bench.py).
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Engine tuning shared by the local path and the spark-submit path —
# cluster-size-agnostic settings only (resource sizing stays on the
# submit command line / local builder).
_TUNING = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.parquet.compression.codec": "zstd",
    # idempotent per-partition rewrites (checkpoint/resume path, M4/M5)
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Scan-split sizing (guide §6): the 4 MB default openCostInBytes models
    # HDFS open/seek latency and pads SMALL single-file tables into 1-2
    # splits — at sf1.0 the 5.7 MB documents/embeddings tables scanned on
    # 2 of 32 cores, serializing every downstream Python/regex stage. On
    # local/NVMe storage (and object stores with range reads) 512 KB is
    # the more accurate open-cost estimate; env-overridable for deployments
    # where file opens really are expensive.
    "spark.sql.files.openCostInBytes": os.environ.get(
        "SPARK_GRAFT_OPEN_COST", str(512 * 1024)
    ),
}


def get_spark(
    master: str | None = None,
    app_name: str = "btc_blockchain_scanner_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    from_submit: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Defaults assume local mode for tests/bench but are the same settings a
    1000-executor cluster run would want (AQE, adaptive coalesce + skew join,
    Arrow UDF transport). ``spark.sql.shuffle.partitions`` defaults to the
    core count — at cluster scale this is overridden to ~2-3x total cores.

    ``from_submit=True`` is the spark-submit entry path (jobs/*.py via
    ``--py-files``, the north_rule execution mode): master/deploy-mode and
    resource sizing belong to the submit command line, so no ``.master()``
    is set and shuffle partitioning is left to ``--conf`` unless passed
    explicitly (Spark's 200 default stands otherwise — a cluster run
    should size it to ~2-3x total executor cores).
    """
    if from_submit:
        builder = SparkSession.builder.appName(app_name)
        if shuffle_partitions is not None:
            builder = builder.config(
                "spark.sql.shuffle.partitions", str(shuffle_partitions)
            )
        for k, v in _TUNING.items():
            builder = builder.config(k, v)
        for k, v in (extra_conf or {}).items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        return spark

    master = master or f"local[{DEFAULT_CPUS}]"
    # Parallelism implied by the master string, for shuffle sizing in local mode.
    if shuffle_partitions is None:
        if master.startswith("local["):
            n = master[len("local[") : -1]
            shuffle_partitions = DEFAULT_CPUS if n == "*" else int(n)
        else:
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # local mode: the driver JVM is also every executor — 8g left the
        # block manager (localCheckpoint rounds, DF caches) competing with
        # execution memory across a 50-query session on a 128 GiB box; env-
        # overridable for smaller hosts (r6; guide §5)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _TUNING.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def overlap(*thunks):
    """Run independent pieces of work concurrently and return their results
    in argument order (Spark actions are only sequential because the driver
    calls them sequentially; each keeps its own jobs).

    The pool has one thread per thunk and every thunk runs to completion.
    Only then is the first failure (in argument order) re-raised, with each
    later failure chained as the context of the one before — so a failing
    write surfaces even when another thunk raised too."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
    errors = [e for e in (f.exception() for f in futures) if e is not None]
    if errors:
        for err, later in zip(errors, errors[1:]):
            err.__context__, err.__suppress_context__ = later, False
        raise errors[0]
    return [f.result() for f in futures]


def release(frame: DataFrame) -> None:
    """Free the storage of a ``localCheckpoint``ed frame.

    Unpersists the frame's own checkpoint RDD — the RDD under its
    ``LogicalRDD`` plan — so it touches nothing another thread persisted.
    ``clearCache()`` does not reach local checkpoints. Raises ValueError
    for a frame whose plan is not a ``LogicalRDD`` (anything but the frame
    ``localCheckpoint`` returned), which has no checkpoint of its own."""
    plan = frame._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        raise ValueError(
            f"release: expected a localCheckpoint frame, got a {plan.nodeName()} plan"
        )
    plan.rdd().unpersist(False)
