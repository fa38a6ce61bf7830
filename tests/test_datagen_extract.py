"""Datagen determinism + extraction semantics vs the pure-Python oracle.

Covers FIXTURES.md §1 invariants: order-deterministic generation at any
parallelism, per-turn text pass-through (F2 analog), extraction == oracle.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from btc_blockchain_scanner_spark.kg import datagen, extract, oracle


def mention_flags_from(mentions: DataFrame, turns: DataFrame) -> DataFrame:
    """The sparse mention flags (semantics in
    ``extract.mention_flags_from_extracted``) computed read-side, over
    mentions ⋈ turns: the reference the pipeline's one-explode form is
    checked against."""
    m = mentions.join(turns.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])
    span = F.expr("substring(text, span_start + 1, span_end - span_start)")
    flag_caps = (span == F.upper(span)) & (span != F.lower(span))
    flag_alias = F.col("mention_type") == "alias"
    return (
        m.select(
            "conv_id",
            "turn_idx",
            "pos",
            flag_alias.alias("flag_alias"),
            flag_caps.alias("flag_caps"),
        )
        .where(F.col("flag_alias") | F.col("flag_caps"))
    )


def test_datagen_parallelism_independent(spark):
    a = datagen.transcripts(spark, n_convs=30, partitions=2).orderBy("conv_id", "turn_idx")
    b = datagen.transcripts(spark, n_convs=30, partitions=16).orderBy("conv_id", "turn_idx")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_datagen_schema_and_ordering(spark):
    df = datagen.transcripts(spark, n_convs=10)
    assert df.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    # dense contiguous turn_idx per conv
    per_conv = df.groupBy("conv_id").agg(
        F.count("*").alias("n"), F.max("turn_idx").alias("mx"), F.min("turn_idx").alias("mn")
    )
    bad = per_conv.where((F.col("mn") != 0) | (F.col("mx") != F.col("n") - 1)).count()
    assert bad == 0
    # tool set only on tool turns
    assert df.where((F.col("role") != "tool") & F.col("tool").isNotNull()).count() == 0


def test_extraction_matches_oracle_and_preserves_text(spark):
    tr = datagen.transcripts(spark, n_convs=25)
    ex = extract.extract(tr)
    # per-turn text equality under stable ordering (the F2 invariant)
    out = ex.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx").collect()
    src = tr.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx").collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in src]

    mentions = extract.mentions_from(ex)
    triples = extract.triples_from(ex)
    got_m = {tuple(r) for r in mentions.collect()}
    got_t = {tuple(r) for r in triples.collect()}

    o_m, o_t = set(), set()
    for r in src:
        ms, ts = oracle.extract_turn(r.text)
        for pos, s, a, b, k in ms:
            o_m.add((r.conv_id, r.turn_idx, pos, s, a, b, k))
        for s, p, ob, pos in ts:
            o_t.add((r.conv_id, r.turn_idx, s, p, ob, pos))
    assert got_m == o_m
    assert got_t == o_t
    assert len(got_t) > 0 and len(got_m) > 0


def test_flags_fast_path_equals_join_path(spark):
    """mention_flags_from_extracted (pipeline fast path, no join) must emit
    exactly the rows of mention_flags_from (read-side mentions ⋈ turns)."""
    tr = datagen.transcripts(spark, n_convs=20)
    ex = extract.extract(tr).persist()
    fast = {tuple(r) for r in extract.mention_flags_from_extracted(ex).collect()}
    joined = {
        tuple(r)
        for r in mention_flags_from(extract.mentions_from(ex), tr).collect()
    }
    ex.unpersist()
    assert fast == joined and len(fast) > 0


def test_synth_materialization_idempotent_and_parity(spark, tmp_path, monkeypatch):
    """plans/synth.py: the materialized parquet must hold exactly the
    regenerated rows (the oracle reads those bytes), and a second call must
    NOT rewrite (the _SUCCESS short-circuit the gate/bench rely on)."""
    import os

    from btc_blockchain_scanner_spark.plans import synth

    monkeypatch.setattr(synth, "SYNTH_DIR", str(tmp_path))
    m1 = synth.materialized_transcripts(spark, n_convs=15)
    want = {tuple(r) for r in datagen.transcripts(spark, n_convs=15).collect()}
    assert {tuple(r) for r in m1.collect()} == want
    path = synth.transcripts_path(15)
    mtime = os.path.getmtime(os.path.join(path, "_SUCCESS"))
    m2 = synth.materialized_transcripts(spark, n_convs=15)
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == mtime  # no rewrite
    assert m2.count() == len(want)

