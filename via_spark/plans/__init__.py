"""Physical-plan introspection helpers.

The engine has no custom plan IR — Catalyst's is the plan layer
(SURVEY.md §4: no custom rules or strategies are needed). What lives
here is the *observability* side: helpers to assert the scale-critical
properties of the plans Catalyst produces (pushdown, broadcast, top-k
heaps, partition pruning). ``tests/test_plans.py`` uses these so a
refactor that silently turns a pruned scan into a full scan fails CI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The physical plan string (post-AQE wrapper, pre-execution)."""
    return df._jdf.queryExecution().executedPlan().toString()
