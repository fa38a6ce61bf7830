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


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
