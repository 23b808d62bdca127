"""Zero-job plan-size estimates for sizing a parallelism width.

Join strategy is Spark's call: no operator forces a broadcast, and AQE
picks broadcast or shuffle from runtime sizes. What remains here reads
Catalyst's driver-side size estimate, ``optimizedPlan().stats()`` — pure
plan analysis (parquet relations report file-size-derived bytes and
projections scale by row width), so it costs zero jobs even when a query
object is rebuilt hundreds of times.

``plan_sized_count`` turns that estimate into ``inverted_index``'s salt
width: one salt per byte budget, clamped. It serves that one operator
because a ``collect_list`` partial keeps every element, so AQE cannot
shrink a hot term; chunked running totals take their width from
``spark.sql.shuffle.partitions`` instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def estimated_plan_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate in bytes — driver-side plan
    analysis only, never a Spark job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())  # type: ignore[attr-defined]


def plan_sized_count(
    df: DataFrame, bytes_per_unit: int, lo: int, hi: int, fallback: int
) -> int:
    """One unit per ``bytes_per_unit`` of ``df``'s plan-size estimate,
    rounded up and clamped to ``[lo, hi]`` — a parallelism width that
    keeps each task's share flat as the input grows, at zero jobs.
    ``fallback`` when there is no estimate (streaming side etc.)."""
    try:
        est = estimated_plan_bytes(df)
    except Exception:
        return fallback
    return min(hi, max(lo, -(-est // bytes_per_unit)))
