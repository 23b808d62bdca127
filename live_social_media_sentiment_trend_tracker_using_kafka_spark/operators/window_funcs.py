"""Window-function operators: per-group top-k, running aggregates, and
anti-join / rollup relational shapes.

The reference has no window functions at all (SURVEY.md §2.5 ⊘ — its only
"top-k" is a global head after value_counts); these are the per-group
variants a production analytics deployment needs, expressed so Catalyst
plans a single shuffle per window spec.

Scale notes: every operator here partitions its window by a real key
(brand, customer) — there is no global unpartitioned window anywhere, which
would serialize 100 TB through one task. Rank-based top-k pushes the filter
directly above the window so only k rows per group survive the stage.
Running totals over few groups (cume_dist, sequence packing, percentile
ranks, token budgets, per-domain caps) all ride ``chunked_running_sum``,
whose chunk count is the session's ``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    partition_col: str,
    order_col: str,
    k: int,
    tiebreak_col: str,
) -> DataFrame:
    """Top-k rows per group (largest ``order_col`` first, ties by ascending
    ``tiebreak_col``) via row_number over a partitioned window.

    One shuffle on ``partition_col``; the rank filter runs in the same stage
    as the window, so output is ≤ k rows per group — never a global sort.
    """
    w = Window.partitionBy(partition_col).orderBy(
        F.desc(order_col), F.asc(tiebreak_col)
    )
    return (
        df.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy(partition_col, "rnk")
    )


def top_parts_per_brand(part: DataFrame, k: int = 3) -> DataFrame:
    """Top-k parts by retail price within each brand."""
    return top_k_per_group(
        part.select("p_brand", "p_partkey", "p_name", "p_retailprice"),
        partition_col="p_brand",
        order_col="p_retailprice",
        k=k,
        tiebreak_col="p_partkey",
    )


def running_revenue_per_customer(orders: DataFrame) -> DataFrame:
    """Cumulative order revenue per customer, in order-date order.

    Window partitioned by customer (shuffle on o_custkey, then a per-group
    sort — no global ordering anywhere)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        orders.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .withColumn("running_spend", F.round(F.sum("o_totalprice").over(w), 2))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Customers having no orders (left-anti join; TPC-H Q22 flavor).

    Anti join shuffles on the key once; AQE can broadcast the orders keyset
    when the distinct custkey side is small."""
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


def _priority_status_totals(grouped) -> DataFrame:
    """Shared body for the rollup/cube twins: counts + revenue with NULL
    group markers labeled 'ALL' (oracle-comparable — DuckDB emits the same
    NULLs). Either way it's ONE shuffle: Spark expands the grouping sets
    inside a single aggregate."""
    return (
        grouped.agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "order_count",
            "revenue",
        )
        .orderBy("priority", "status")
    )


def priority_status_cube(orders: DataFrame) -> DataFrame:
    """CUBE(priority, status): adds the per-status subtotal rollup omits."""
    return _priority_status_totals(orders.cube("o_orderpriority", "o_orderstatus"))


def priority_status_rollup(orders: DataFrame) -> DataFrame:
    """ROLLUP(priority, status): counts + revenue with subtotals."""
    return _priority_status_totals(orders.rollup("o_orderpriority", "o_orderstatus"))


def chunked_running_sum(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    value: str | Column,
    out_col: str,
) -> DataFrame:
    """Inclusive running total of ``value`` in ``order_cols`` order within
    each ``part_cols`` group, without sorting a whole group in one task
    (the ``Window.partitionBy(few_groups)`` trap this module's header
    forbids). Every chunked running total in the package rides this.

    1. A range repartition on ``(*part_cols, *order_cols)`` with no count
       splits the rows into ordered chunks, ``spark.sql.shuffle.partitions``
       of them, each row tagged ``_chunk`` with its partition id; the frame
       is persisted, so the sampled range bounds are drawn once. Equal
       keys land in one chunk, and chunk ids ascend with the key order.
       Drawing the bounds is a job of its own that reads ``df``, so
       ``df``'s per-row expressions run twice.
    2. Per-(group, chunk) sums feed a window over chunks within each
       group: ``_offset`` is the group's sum in earlier chunks, ``_total``
       the group's whole sum. They join back null-safely, so NULL group
       keys form a group like ``Window.partitionBy`` does.
    3. A chunk-local window adds the running sum inside the chunk.

    The local window uses a RANGE frame, so rows with equal
    ``(part_cols, order_cols)`` share their total; NULL order values sort
    first. ``part_cols=[]`` is one group spanning the frame. The chunk
    width changes parallelism only, never a value.

    Returns ``df``'s columns plus ``_offset``, ``_total`` and ``out_col``.
    ``_offset`` is a partition key of the local window, so a caller's
    filter on it runs below that window's sort.
    """
    from ..caching import tracked_persist

    chunked = tracked_persist(
        df.repartitionByRange(*part_cols, *order_cols).withColumn(
            "_chunk", F.spark_partition_id()
        )
    )
    val = F.col(value) if isinstance(value, str) else value
    # the offsets frame derives FROM chunked, so its keys are renamed: the
    # grouping attributes keep their ids through the aggregate and an
    # un-aliased self-join condition would be ambiguous
    keys = {c: f"_o_g{i}" for i, c in enumerate(part_cols)}
    by_group = Window.partitionBy(*keys.values())
    offsets = (
        chunked.groupBy(
            F.col("_chunk").alias("_o_chunk"),
            *[F.col(c).alias(k) for c, k in keys.items()],
        )
        .agg(F.sum(val).alias("_s"))
        .select(
            "_o_chunk",
            *keys.values(),
            F.coalesce(
                F.sum("_s").over(
                    by_group.orderBy("_o_chunk").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("_offset"),
            F.sum("_s").over(by_group).alias("_total"),
        )
    )
    cond = F.col("_chunk") == F.col("_o_chunk")
    for c, k in keys.items():
        cond = cond & F.col(c).eqNullSafe(F.col(k))
    local = Window.partitionBy("_chunk", *part_cols, "_offset").orderBy(*order_cols)
    return (
        chunked.join(offsets, cond)
        .drop("_o_chunk", *keys.values())
        .withColumn(out_col, F.col("_offset") + F.sum(val).over(local))
        .drop("_chunk")
    )


def distributed_cume_dist(
    df: DataFrame,
    part_cols: list[str],
    order_col: str,
    out_col: str = "cume",
) -> DataFrame:
    """Exact ``cume_dist()`` over ``Window.partitionBy(*part_cols)
    .orderBy(order_col)`` at chunk parallelism: the running count of rows
    at or below the row's value (``chunked_running_sum``, where ties share
    a count) divided by the group total. Returns ``df``'s columns plus
    ``out_col``."""
    return (
        chunked_running_sum(df, part_cols, [order_col], F.lit(1), "_le")
        .withColumn(out_col, F.col("_le") / F.col("_total").cast("double"))
        .drop("_le", "_offset", "_total")
    )
