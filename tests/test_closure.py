"""The bounded collect every closure kernel goes through
(``operators/closure.py``): its cap boundaries, and a static check that no
other operator module collects on its own."""

import ast
from pathlib import Path

from pyspark.sql import functions as F

from btc_blockchain_scanner_spark.operators import closure

OPERATORS = Path(__file__).resolve().parent.parent / "btc_blockchain_scanner_spark" / "operators"


def test_collect_bounded_boundaries(spark):
    df = spark.range(5).select(F.col("id"), (F.col("id") + 1).alias("w"))
    t = closure.collect_bounded(df, 5)
    assert t is not None and sorted(t.column("id").to_pylist()) == [0, 1, 2, 3, 4]
    assert closure.collect_bounded(df, 4) is None
    # weighted: the sum of w is 1 + 2 + 3 + 4 + 5 = 15
    t = closure.collect_bounded(df, 15, weight=F.col("w"))
    assert t is not None and t.num_rows == 5
    assert closure.collect_bounded(df, 14, weight=F.col("w")) is None


def test_only_closure_collects_in_operators():
    """``.toArrow()`` / ``.take(`` pull a frame onto the driver; under
    ``operators/`` only closure.py may do that, so every collect stays
    under the one budget."""
    found = []
    for f in sorted(OPERATORS.glob("*.py")):
        if f.name == "closure.py":
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("toArrow", "take")
            ):
                found.append(f"{f.name}:{node.lineno} .{node.func.attr}()")
    assert found == []
