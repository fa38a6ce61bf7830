"""The per-key cap: exactly the naive window's rows, at any parallelism."""

from pyspark.sql import functions as F

from btc_blockchain_scanner_spark.operators import sampling


def test_per_key_cap_exact_vs_naive_window(spark):
    """The two-phase (pre-filter + bounded window + fallback) cap must
    equal the naive full-data window cap exactly — including a hot key
    with 10k rows, keys below the cap, and a forced-deficient pre-filter
    (oversample=1 makes under-sampling likely, exercising the fallback)."""
    from pyspark.sql import Window as W

    rows = (
        [("hub", i) for i in range(10_000)]
        + [("mid", i + 100_000) for i in range(50)]
        + [("tiny", i + 200_000) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "source string, doc_id long")

    h = (
        F.shiftrightunsigned(F.xxhash64(F.col("doc_id"), F.lit("cap")), 11).cast("double")
        / float(2**53)
    )
    w = W.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    want = {
        (r.source, r.doc_id)
        for r in df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 7)
        .drop("_rn")
        .collect()
    }
    for oversample in (8, 1):  # 1 → deficient keys near-certain → fallback path
        got = {
            (r.source, r.doc_id)
            for r in sampling.per_key_cap(df, "source", 7, "doc_id", oversample=oversample).collect()
        }
        assert got == want, f"oversample={oversample}"
    # caps honored; under-cap keys keep everything
    by_key = {}
    for s, _ in want:
        by_key[s] = by_key.get(s, 0) + 1
    assert by_key == {"hub": 7, "mid": 7, "tiny": 3}


def test_per_key_cap_deterministic_across_parallelism(spark):
    df = spark.createDataFrame(
        [(f"s{i % 5}", i) for i in range(2000)], "source string, doc_id long"
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = {tuple(r) for r in sampling.per_key_cap(df, "source", 10, "doc_id").collect()}
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = {
            tuple(r)
            for r in sampling.per_key_cap(df.repartition(13), "source", 10, "doc_id").collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b and len(a) == 50
