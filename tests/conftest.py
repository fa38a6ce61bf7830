import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from btc_blockchain_scanner_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[8]", app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def persistent_ids(spark):
    """Callable returning the ids in the JVM's persistent-RDD registry.
    Tests compare id SETS, not counts: the ContextCleaner may reap other
    tests' RDDs meanwhile, so only ids a call added count."""

    def ids() -> set[int]:
        return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}

    return ids


@pytest.fixture
def mapped(spark, monkeypatch):
    """List that gains one entry per ``mapInPandas`` call: it shows that a
    kernel was placed on the executors."""
    calls = []
    frame = type(spark.range(1))
    map_in_pandas = frame.mapInPandas

    def spy(self, *args, **kwargs):
        calls.append(1)
        return map_in_pandas(self, *args, **kwargs)

    monkeypatch.setattr(frame, "mapInPandas", spy)
    return calls


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
