"""Plan inspection helpers.

There is deliberately no custom Catalyst rule or strategy in this engine
(SURVEY.md §4.2): every operator is UDAF/UDF-shaped, so Catalyst's own
column pruning, predicate/partition pushdown, AQE coalescing and skew
handling apply untouched. What we owe the optimizer instead is
*verification* — these helpers let tests (tests/test_plans.py) and users
assert that a pipeline kept its plan healthy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def read_schema(df: DataFrame) -> str:
    """The parquet scan's ReadSchema line(s) — what actually gets read."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "ReadSchema" in line
    )

