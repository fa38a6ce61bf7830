"""MERGE upsert semantics and winnowing fingerprints."""

from pyspark.sql import functions as F

from btc_blockchain_scanner_spark.operators import dedup
from btc_blockchain_scanner_spark.sources.merge import merge_upsert


def test_merge_upsert_roundtrip(spark, tmp_path):
    target = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, name string, v double"
    )
    stats = merge_upsert(spark, target, base, ["id"])
    assert stats == {"inserted": 3, "updated": 0, "deleted": 0, "kept": 0}

    upd = spark.createDataFrame([(2, "b2", 22.0), (4, "d", 40.0)], "id long, name string, v double")
    stats = merge_upsert(spark, target, upd, ["id"])
    assert stats["inserted"] == 1 and stats["updated"] == 1 and stats["kept"] == 2
    got = {(r.id, r.name, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a", 10.0), (2, "b2", 22.0), (3, "c", 30.0), (4, "d", 40.0)}

    # idempotency: merging the same updates again changes nothing
    merge_upsert(spark, target, upd, ["id"])
    assert {(r.id, r.name, r.v) for r in spark.read.parquet(target).collect()} == got

    # NOT MATCHED BY SOURCE DELETE (safe-mode reconcile, M4)
    expected = spark.createDataFrame([(2, "b2", 22.0)], "id long, name string, v double")
    stats = merge_upsert(spark, target, expected, ["id"], delete_missing=True)
    assert stats["deleted"] == 3
    assert [tuple(r) for r in spark.read.parquet(target).collect()] == [(2, "b2", 22.0)]


def test_merge_counts_unchanged_matches_as_kept(spark, tmp_path):
    """A matched key counts as updated only when a value changes, nulls
    compared null-safe (MySQL's affected-rows rule for ON DUPLICATE KEY
    UPDATE); an unchanged duplicate update key is still refused."""
    import pytest

    target = str(tmp_path / "t6")
    schema = "id long, name string, v double"
    rows = [(1, "a", None), (2, "b", 2.0)]
    merge_upsert(spark, target, spark.createDataFrame(rows, schema), ["id"])
    stats = merge_upsert(spark, target, spark.createDataFrame(rows, schema), ["id"])
    assert stats == {"inserted": 0, "updated": 0, "deleted": 0, "kept": 2}
    stats = merge_upsert(spark, target, spark.createDataFrame([(1, "a", 1.0)], schema), ["id"])
    assert stats == {"inserted": 0, "updated": 1, "deleted": 0, "kept": 1}
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(spark, target, spark.createDataFrame([(2, "b", 2.0)] * 2, schema), ["id"])


def test_merge_rejects_duplicate_update_keys(spark, tmp_path):
    import pytest

    dup = spark.createDataFrame([(1, "x", 1.0), (1, "y", 2.0)], "id long, name string, v double")
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(spark, str(tmp_path / "t2"), dup, ["id"])
    # target untouched on failure? target didn't exist — first write happens
    # only after validation, so nothing was created
    assert not (tmp_path / "t2").exists()


def test_merge_rejects_duplicate_update_keys_on_existing_target(spark, tmp_path):
    import os

    import pytest

    target = str(tmp_path / "t5")
    base = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "id long, name string, v double")
    merge_upsert(spark, target, base, ["id"])

    def snapshot():
        return {
            f: open(os.path.join(target, f), "rb").read() for f in sorted(os.listdir(target))
        }

    before = snapshot()
    # one duplicate on a matched key, one on a new key
    for rows in ([(2, "x", 1.0), (2, "y", 2.0)], [(3, "x", 1.0), (3, "y", 2.0)]):
        dup = spark.createDataFrame(rows, "id long, name string, v double")
        with pytest.raises(ValueError, match="duplicate keys"):
            merge_upsert(spark, target, dup, ["id"])
        assert snapshot() == before
    assert sorted(os.listdir(tmp_path)) == ["t5"]  # no temp dir or backup left


def test_merge_recovers_interrupted_swap(spark, tmp_path):
    """Crash between the two swap renames leaves only <target>._old; the
    next merge call must restore it instead of treating the table as new."""
    import os

    from btc_blockchain_scanner_spark.sources import merge

    target = str(tmp_path / "t3")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    merge.merge_upsert(spark, target, base, ["k"])
    # simulate the mid-swap crash state
    os.rename(target, target + "._old")
    upd = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    res = merge.merge_upsert(spark, target, upd, ["k"])
    assert res == {"inserted": 1, "updated": 1, "deleted": 0, "kept": 1}
    got = {(r.k, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_merge_clears_stale_backup(spark, tmp_path):
    """Crash AFTER installing the new target but before deleting the backup
    leaves target AND <target>._old; subsequent merges must clear the stale
    backup instead of failing the os.rename with ENOTEMPTY forever."""
    import os

    from btc_blockchain_scanner_spark.sources import merge

    target = str(tmp_path / "t4")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    merge.merge_upsert(spark, target, base, ["k"])
    # simulate the post-install crash state: healthy target + stale backup
    os.mkdir(target + "._old")
    with open(target + "._old/junk", "w") as f:
        f.write("stale")
    upd = spark.createDataFrame([(3, "c")], "k long, v string")
    res = merge.merge_upsert(spark, target, upd, ["k"])
    assert res["inserted"] == 1 and res["kept"] == 2
    # and again — the state must not wedge repeat merges either
    res2 = merge.merge_upsert(spark, target, spark.createDataFrame([(4, "d")], "k long, v string"), ["k"])
    assert res2["inserted"] == 1
    got = {r.k for r in spark.read.parquet(target).collect()}
    assert got == {1, 2, 3, 4}
    assert not os.path.isdir(target + "._old")


def test_winnow_guarantee(spark):
    # docs sharing a >= k+window-1 = 8-word run must share a fingerprint
    common = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"intro words {common} tail one"),
        (2, f"different opening {common} other ending"),
        (3, "entirely unrelated text with nothing in common at all here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = dedup.winnow_fingerprints(docs, k=5, window=4)
    sets: dict[int, set] = {}
    for r in fp.collect():
        sets.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert sets[1] & sets[2], "shared 8-word run must share a fingerprint"
    assert not (sets[1] & sets[3])

    pairs = {(r.id_a, r.id_b) for r in dedup.winnow_dup_pairs(docs, k=5, window=4, min_shared=1).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_winnow_guarantee_with_recurring_kgrams(spark):
    # ADVICE regression: the shared run itself contains a REPEATED k-gram
    # ("go go go go go" twice). With array_distinct'd shingles the window
    # stream would collapse and could skip the run; positional shingles
    # keep the guarantee.
    common = "go go go go go stop go go go go go halt alpha beta gamma delta"
    rows = [
        (1, f"one two three {common} four five"),
        (2, f"six seven eight nine {common} ten"),
        (3, "entirely unrelated filler text with nothing shared at all here today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = dedup.winnow_fingerprints(docs, k=5, window=4)
    sets: dict[int, set] = {}
    for r in fp.collect():
        sets.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert sets[1] & sets[2], "recurring-k-gram shared run must still share a fingerprint"
    assert not (sets[1] & sets[3])

