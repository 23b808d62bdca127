"""Plan-inspection helpers for tests: assert the physical plan is the one
an operator documents (broadcast joins where intended, no Python in
pure-SQL paths, node counts) instead of hoping."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_text(df: DataFrame) -> str:
    """Formatted physical plan as a string (without printing)."""
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")  # type: ignore[attr-defined]
    except Exception:
        # toString() is the universally-available fallback (explainString on
        # the JVM QueryExecution takes an ExplainMode enum, not a string —
        # calling it with "formatted" raises an unrelated Py4J error that
        # would mask the original exception)
        return df._jdf.queryExecution().toString()  # type: ignore[attr-defined]


def assert_broadcast_join(df: DataFrame, expected: int = 1) -> None:
    plan = plan_text(df)
    found = plan.count("BroadcastHashJoin")
    assert found >= expected, f"expected >= {expected} BroadcastHashJoin, plan:\n{plan}"


def count_plan_nodes(df: DataFrame, name: str) -> int:
    """Count physical-plan nodes named exactly ``name`` via the formatted
    plan's details section (lines like ``(12) Exchange``) — robust to tree
    indentation/rendering, unlike counting ``+- <Name>`` prefixes, and
    immune to substring collisions (``Exchange`` won't match
    ``BroadcastExchange``, whose details line is ``(N) BroadcastExchange``)."""
    return len(re.findall(rf"^\(\d+\) {re.escape(name)}(?=\s|$)", plan_text(df), flags=re.M))


def assert_no_python_udf(df: DataFrame) -> None:
    plan = plan_text(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, f"unexpected Python boundary ({marker}) in plan:\n{plan}"
