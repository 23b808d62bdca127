"""Relational core — joins/aggregations over the TPC-H-ish testdata.

The reference contains **no joins at all** (SURVEY.md §2.5 ⊘); these queries
exist to prove the relational capabilities a real deployment of this engine
needs, shaped after the public TPC-H workload (adapted to the driver's
slightly-reduced schemas, FIXTURES.md §B).

Scale design, query by query:

- ``pricing_summary`` (Q1-shape): single scan of lineitem, map-side partial
  agg → tiny shuffle (6-ish groups). The shipdate filter is pushed into the
  parquet scan.
- ``shipping_priority`` (Q3-shape): customer and orders filters push to their
  scans; customer is the small side after filtering, so AQE broadcasts it
  and only the orders⋈lineitem join shuffles — AQE can convert that one too
  when the filtered orders side is small.
- ``local_supplier_volume`` (Q5-shape): region/nation are tiny dims that
  Spark broadcasts by size; the big joins shuffle on orderkey once.

No join here carries a strategy hint: the planner and AQE choose broadcast
or shuffle from the (runtime) sizes, so a dimension that outgrows memory
at a larger scale factor shuffles instead of failing.
- ``top_customers_by_spend``: orders-side pre-aggregation *before* the
  customer join shrinks the join input from |orders| to |custkey| rows.

All money aggregates round to 2 dp so cross-engine double-summation-order
drift cannot flip the oracle hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1 shape: per (returnflag, linestatus) sums/avgs/count."""
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1995-03-15",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: unshipped-order revenue top-k.

    Filtered customer is broadcast — eliminates one whole shuffle of orders.
    """
    cust = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    ords = orders.filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    items = lineitem.filter(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        ords.join(cust, ords.o_custkey == cust.c_custkey)
        .join(items, ords.o_orderkey == items.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(k)
    )


def local_supplier_volume(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    region_name: str = "ASIA",
    date_from: str = "1996-01-01",
    date_to: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where customer and supplier share the
    nation, one region, one order-date year. Dims broadcast; fact joins
    shuffle once on orderkey."""
    nations_in_region = (
        nation.join(region.filter(F.col("r_name") == region_name),
                    nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    ords = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    return (
        lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(ords, F.col("l_orderkey") == ords.o_orderkey)
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier.select("s_suppkey", "s_nationkey"),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(nations_in_region, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def top_customers_by_spend(customer: DataFrame, orders: DataFrame, k: int = 10) -> DataFrame:
    """Top-k customers by total order value.

    Aggregates orders *before* joining customer names — the join input is one
    row per customer, not one per order; customer side broadcast."""
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        F.count(F.lit(1)).alias("order_cnt"),
    )
    return (
        spend.join(customer.select("c_custkey", "c_name"),
                   spend.o_custkey == F.col("c_custkey"))
        .select("c_custkey", "c_name", "total_spend", "order_cnt")
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(k)
    )


def forecast_revenue(
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
    disc_lo: float = 0.05,
    disc_hi: float = 0.07,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6 shape: pure scan-and-sum with range predicates.

    Every predicate is parquet-pushable (shipdate/discount/quantity are plain
    columns) — the scan itself skips row groups; zero shuffles, one partial +
    one final agg. The canonical 'is pushdown working' probe."""
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
            & (F.col("l_discount") >= disc_lo)
            & (F.col("l_discount") <= disc_hi)
            & (F.col("l_quantity") < max_qty)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def brand_revenue(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q19 flavor: broadcast part join with an OR-of-ANDs predicate.

    part is the broadcast side; the disjunctive predicate can't fully push to
    the scan but its conjunctive residuals (quantity bounds) do. Per-brand
    revenue keeps the output deterministic."""
    joined = lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 5) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 40))
    )
    return (
        joined.filter(cond)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


def customer_order_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count, including
    the zero-order bucket via a left outer join.

    Two-level aggregation: the first groupBy shrinks orders to one row per
    customer *before* anything joins, the second is over |distinct counts|
    rows — tiny. The outer join preserves order-less customers (counted as
    c_count = 0), which a plain inner-join+groupBy silently drops.
    """
    per_cust = (
        customer.select("c_custkey")
        .join(orders.select("o_custkey", "o_orderkey"),
              F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))  # count skips nulls -> 0
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def promo_revenue_share(
    part: DataFrame,
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q14 shape: promo revenue as a percentage of total revenue in a
    ship-date window — conditional aggregation over a broadcast dim join.

    The date filter pushes to the lineitem scan; part is broadcast; one
    partial+final agg produces a single row, so the only shuffle is the
    broadcast exchange. Rounded to 4 dp for oracle stability.
    """
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
        )
        .join(part.select("p_partkey", "p_type"),
              F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


def large_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    min_quantity: float = 300.0,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q18 shape: customers behind the largest orders (HAVING on a
    grouped sum, joined back to the order/customer detail).

    lineitem aggregates to one row per orderkey *first*; the HAVING filter
    then cuts that to the few qualifying orders, so the joins back to orders
    and (broadcast) customer move almost nothing. Top-k via
    TakeOrderedAndProject, deterministic tiebreak on orderkey.
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > min_quantity)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer.select("c_custkey", "c_name"),
              F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(k)
    )


def order_priority_counts(
    orders: DataFrame, lineitem: DataFrame, min_discount: float = 0.08
) -> DataFrame:
    """TPC-H Q4 shape (semi-join): orders having at least one deeply
    discounted lineitem, counted per priority.

    Expressed as a left-semi join — no row multiplication, no dedup needed;
    Spark plans a shuffled (or AQE-broadcast) semi join. The driver schema
    lacks Q4's commitdate/receiptdate, so the EXISTS predicate uses discount.
    """
    qualifying = lineitem.filter(F.col("l_discount") >= min_discount).select("l_orderkey")
    return (
        orders.join(qualifying, orders.o_orderkey == qualifying.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def nation_trade_volume(
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year — supplier nation on the lineitem side, customer nation via the
    order, either direction.

    Scale shape: both nation-tagged dimension tables are broadcast; the two
    fact-side joins shuffle once each on their keys; the nation-pair filter
    prunes before aggregation.
    """
    supp_n = (
        supplier.join(
            nation.select("n_nationkey", F.col("n_name").alias("supp_nation")),
            supplier.s_nationkey == F.col("n_nationkey"),
        ).select("s_suppkey", "supp_nation")
    )
    cust_n = (
        customer.join(
            nation.select("n_nationkey", F.col("n_name").alias("cust_nation")),
            customer.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey", "cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b))
        | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
    )
    return (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
        .join(supp_n, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_n, F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def brand_market_share(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    region_name: str = "ASIA",
    brand: str = "Brand#1",
) -> DataFrame:
    """TPC-H Q8 shape: one brand's share of a region's customer revenue per
    order year — conditional aggregation over the same joined fact stream
    (no second pass, no self-join).
    """
    cust_in_region = (
        customer.join(
            nation.join(
                region.filter(F.col("r_name") == region_name),
                nation.n_regionkey == region.r_regionkey,
            ).select("n_nationkey"),
            customer.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    # per-row revenue quantized to DECIMAL(18,4) before the sums, so they
    # are exact and do not depend on the join strategy's summation order
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    brand_rev = F.sum(F.when(F.col("p_brand") == brand, rev).otherwise(F.lit(0)))
    return (
        lineitem.select("l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_in_region, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(part.select("p_partkey", "p_brand"),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(brand_rev, 2).cast("double").alias("brand_revenue"),
            F.round(F.sum(rev), 2).cast("double").alias("total_revenue"),
            F.round(
                brand_rev.cast("double") / F.sum(rev).cast("double"), 6
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def dormant_high_value_customers(
    customer: DataFrame,
    orders: DataFrame,
    cutoff: str = "2000-01-01",
) -> DataFrame:
    """TPC-H Q22 shape: per-nation count and balance of above-average-balance
    customers with NO orders since ``cutoff`` — scalar aggregate subquery +
    anti-join.

    The global average is a 1-row aggregate cross-joined in (broadcast,
    stays in-plan — no collect); the anti-join streams the customer side
    against the (date-pruned) distinct buyer set.
    """
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg_bal")
    )
    recent_buyers = (
        orders.filter(F.col("o_orderdate") >= F.lit(cutoff).cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        customer.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(recent_buyers, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("c_nationkey")
    )


def small_quantity_revenue(
    part: DataFrame,
    lineitem: DataFrame,
    brand: str = "Brand#1",
    frac: float = 0.5,
) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders of less than ``frac`` of a
    part's average order quantity, for one brand.

    The spec's correlated scalar subquery (avg l_quantity per l_partkey)
    decorrelates into a per-part aggregate joined back onto the fact scan;
    the brand filter semi-joins BOTH the aggregate input and the probe, so
    the average is computed only for surviving parts and the part dim
    broadcasts twice rather than shuffling lineitem at all.
    """
    bparts = part.filter(F.col("p_brand") == brand).select("p_partkey")
    li = lineitem.join(
        bparts, lineitem["l_partkey"] == bparts["p_partkey"]
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    thresholds = li.groupBy("l_partkey").agg(
        (F.lit(frac) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(thresholds, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 6).alias("avg_yearly"))
    )


def top_supplier_revenue(
    supplier: DataFrame,
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving the quarter's maximum
    revenue — a derived revenue view, its global max as a one-row
    broadcast, and an equality join back (the decorrelated form of the
    spec's ``revenue = (SELECT max ...)`` subquery). Ties all surface,
    deterministically ordered."""
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from))
            & (F.col("l_shipdate") < F.lit(date_to))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mr"))
    return (
        rev.join(mx, rev["total_revenue"] == mx["mr"])
        .join(supplier, rev["l_suppkey"] == supplier["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def cheapest_supplier_per_part(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    max_size: int = 10,
) -> DataFrame:
    """TPC-H Q2 flavor on the available tables (no partsupp in the
    testdata): for each small part, the supplier offering the minimum
    observed unit price (extendedprice/quantity), min-suppkey on ties.

    The spec's correlated MIN subquery decorrelates into a per-part
    aggregate + equality join back; both reductions are plain hash aggs on
    l_partkey — the fact table shuffles once, the dims broadcast.
    """
    sparts = part.filter(F.col("p_size") <= max_size).select("p_partkey", "p_name")
    unit = (
        lineitem.filter(F.col("l_quantity") > 0)
        .join(sparts, lineitem["l_partkey"] == sparts["p_partkey"])
        .select(
            "p_partkey",
            "p_name",
            "l_suppkey",
            F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6).alias("unit_price"),
        )
    )
    # Rename the agg key so the equality join back onto `unit` is
    # lexically unambiguous — unit["p_partkey"] == best["p_partkey"] is a
    # same-lineage self-join reference that Spark only rescues via plan-id
    # metadata (with a "trivially true predicate" WARN); a distinct name
    # needs no rescue.
    best = (
        unit.groupBy(F.col("p_partkey").alias("best_partkey"))
        .agg(F.min("unit_price").alias("min_price"))
    )
    return (
        unit.join(
            best,
            (F.col("p_partkey") == F.col("best_partkey"))
            & (F.col("unit_price") == F.col("min_price")),
        )
        .drop("best_partkey")
        .groupBy("p_partkey", "p_name", "unit_price")
        .agg(F.min("l_suppkey").alias("s_suppkey"))
        .join(supplier, "s_suppkey")
        .select("p_partkey", "p_name", "s_suppkey", "s_name", F.col("unit_price").alias("min_unit_price"))
        .orderBy("p_partkey")
    )


def lone_problem_suppliers(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q21 shape (the driver schema lacks commit/receipt dates, so
    "problem" is a returned line, ``l_returnflag = 'R'``): suppliers who
    were the ONLY supplier with a returned line in a finalized
    multi-supplier order.

    The Q21 double-correlated EXISTS / NOT EXISTS decorrelates to PER-ORDER
    CONDITIONAL AGGREGATES instead of the textbook pair of self-joins:
    a supplier is "lone" in an order iff the order has >1 distinct
    suppliers AND exactly 1 distinct supplier with a returned line — both
    countable in one hash aggregation over lineitem, with the lone
    supplier's key recovered as ``max(CASE WHEN returned THEN suppkey)``
    (well-defined because the filter pins the distinct count to 1).

    One wide shuffle of lineitem total (the pair reduction; the
    finalized-orders semi-join and the second agg ride on reduced tables)
    versus the self-join formulation's three — measured 22.6 s → 10.6 s at
    20× sf0.1 (12 M rows). Supplier dim broadcasts. Output ordered by
    numwait desc, name.
    """
    finalized = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    li = lineitem.join(
        finalized, lineitem["l_orderkey"] == finalized["o_orderkey"], "left_semi"
    )
    # two-phase instead of multi-countDistinct: the Expand operator behind
    # two DISTINCT aggregates triplicates every lineitem row before the
    # shuffle; pre-reducing to (order, supplier, saw_return) pairs keeps
    # the wide pass a plain partial agg and the distinct logic runs on the
    # already-tiny pair table
    pairs = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_r")
    )
    per_order = pairs.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_sups"),
        F.sum("has_r").alias("n_r_sups"),
        F.max(F.when(F.col("has_r") == 1, F.col("l_suppkey"))).alias("lone_sup"),
    )
    lone = per_order.filter((F.col("n_r_sups") == 1) & (F.col("n_sups") > 1))
    return (
        lone.join(supplier, lone["lone_sup"] == supplier["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(k)
    )


def returned_item_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape: customers who returned the most revenue in an
    order-date quarter — returned-lineitem revenue aggregated per customer,
    decorated with customer/nation detail, top-k.

    Scale shape: both fact-side filters (returnflag on lineitem, the date
    window on orders) push to their parquet scans BEFORE the orderkey
    shuffle join; the per-customer aggregate reduces to at most |customer|
    rows before the customer join (never decorate, then aggregate — the
    decorated pre-agg row would be ~5x wider through the shuffle); nation
    broadcasts; top-k is TakeOrderedAndProject with a c_custkey tiebreak so
    rounded-revenue ties stay deterministic.
    """
    # the per-row double product is IEEE-identical on any engine; summing it
    # as DECIMAL makes the aggregate EXACT (order-independent), so the 2-dp
    # round can't flip a .xx5 boundary between engines the way a
    # double-accumulated sum did at sf0.01 (observed ±0.01 on one customer)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    per_cust = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
            ).select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )
    return (
        per_cust.join(
            customer.select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
            per_cust["o_custkey"] == F.col("c_custkey"),
        )
        .join(
            nation.select("n_nationkey", "n_name"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", "n_name", "c_acctbal", "revenue")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(k)
    )


BRACKETS = [
    # (label, brand, size_max, qty_min, qty_max)
    ("bracket_small", "Brand#12", 15, 1.0, 15.0),
    ("bracket_medium", "Brand#23", 25, 10.0, 30.0),
    ("bracket_large", "Brand#5", 35, 20.0, 50.0),
]


def bracket_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brackets: list[tuple[str, str, int, float, float]] = BRACKETS,
) -> DataFrame:
    """TPC-H Q19 shape: revenue from disjunctive brand/size/quantity
    brackets — each bracket is (brand, max size, quantity window), and a
    line item counts toward the first bracket whose part and quantity both
    match. Reported per bracket (Q19 sums one number; per-bracket rows are
    strictly more informative and reduce to it).

    Returns (bracket, n_items, revenue) ordered by bracket label.

    Scale shape: the part side filters to the brackets' brands/sizes —
    a few permille of the part table — so it BROADCASTS after pushdown
    (brand IN (...) and the size bound reach the parquet scan); lineitem
    prunes l_quantity <= max(qty_max) at ITS scan before the join, so the
    only corpus-sized work is one pushed-down scan feeding a broadcast
    hash join and a 3-row map-side agg. Revenue accumulates
    DECIMAL(18,6) per-row products (exact, order-independent), then
    rounds to 2 dp — the returned_items house pattern.
    """
    qty_cap = max(b[4] for b in brackets)
    p = part.filter(
        F.col("p_brand").isin([b[1] for b in brackets])
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= max(b[2] for b in brackets))
    ).select("p_partkey", "p_brand", "p_size")
    li = lineitem.filter(F.col("l_quantity") <= F.lit(qty_cap)).select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    label = F.lit(None).cast("string")
    for name, brand, size_max, qmin, qmax in reversed(brackets):
        label = F.when(
            (F.col("p_brand") == brand)
            & (F.col("p_size") <= size_max)
            & (F.col("l_quantity") >= qmin)
            & (F.col("l_quantity") <= qmax),
            F.lit(name),
        ).otherwise(label)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .select(label.alias("bracket"), rev.alias("rev"))
        .filter(F.col("bracket").isNotNull())
        .groupBy("bracket")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
        )
        .orderBy("bracket")
    )


def ship_latency_audit(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q12-adapted fulfillment audit over the columns this schema
    actually has (no shipmode/commitdate): per order priority, the
    order-date -> ship-date latency distribution plus the share of
    lineitems whose ship date PRECEDES the order date — impossible rows,
    i.e. a referential data-quality violation metric (the synthetic
    tables draw the two dates independently, so the violation share is
    deliberately non-vacuous, ~0.49 at every sf).

    Returns (o_orderpriority, n_items, violation_share, avg_latency_days,
    max_latency_days) ordered by priority. Latency is an exact integer
    day diff of NTZ dates (wall-clock pure — NTZ -> date is truncation,
    no session-tz cast), so every aggregate divides exact integers:
    engine-stable without decimal accumulation.

    Scale shape: both sides are fact-sized, so this is ONE shuffle each
    on the orderkey into a sort-merge join (neither side broadcasts at
    100 TB); each scan is pruned to 2-3 columns (ReadSchema-checked in
    tests). The groupBy lands on |priorities| rows via a
    map-side-combinable agg — the join's exchange dominates, and that
    exchange is irreducible for a fact-fact decorate.
    """
    li = lineitem.select("l_orderkey", F.to_date("l_shipdate").alias("ship_d"))
    o = orders.select(
        "o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("order_d")
    )
    lat = F.datediff(F.col("ship_d"), F.col("order_d"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_orderpriority", lat.alias("lat"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.when(F.col("lat") < 0, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("violation_share"),
            F.round(F.sum("lat") / F.count(F.lit(1)).cast("double"), 6).alias(
                "avg_latency_days"
            ),
            F.max("lat").cast("long").alias("max_latency_days"),
        )
        .orderBy("o_orderpriority")
    )


def supplier_diversity(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q16 shape adapted to this schema (no partsupp table): per
    brand, how many DISTINCT suppliers and distinct parts actually ship
    lines, plus the line volume — the supplier-concentration screen
    behind "is this brand single-sourced?".

    Returns (p_brand, n_suppliers, n_parts, n_lines) ordered by brand.

    Scale shape: part prunes to 2 columns and BROADCASTS into the
    lineitem scan; the multi-distinct then runs TWO-LEVEL — first a
    map-side-combinable dedup to (brand, suppkey, partkey) combo rows
    (one corpus shuffle), then the countDistinct pair + line sum over
    the COMBO table. Q21's lesson (relational.py:545) applies: a direct
    corpus-level double countDistinct Expand-triplicates every lineitem
    row through the exchange; pre-deduping to combos bounds the Expand
    at |brands|x|suppliers|x|parts-per-brand| rows instead.
    """
    li = lineitem.select("l_partkey", "l_suppkey")
    p = part.select("p_partkey", "p_brand")
    combos = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "l_suppkey", "l_partkey")
        .agg(F.count(F.lit(1)).alias("n_combo_lines"))
    )
    return (
        combos.groupBy("p_brand")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.sum("n_combo_lines").cast("long").alias("n_lines"),
        )
        .orderBy("p_brand")
    )


def monthly_order_mix(orders: DataFrame) -> DataFrame:
    """Order-status mix by calendar month: per (month, status), the order
    count, total order value, and the status's share of that month's
    orders — the order-health trend panel ("are open orders piling up?").

    Returns (month_start, o_orderstatus, n_orders, total_value,
    share_of_month) ordered by (month, status).

    Timezone note: ``trunc(date, 'mm')`` is pure DATE arithmetic on the
    NTZ order date (Spark's date_trunc('month', ntz) would return a
    session-tz TIMESTAMP — the weekly_revenue_growth pitfall).

    Cross-engine determinism: counts are exact; total_value accumulates
    DECIMAL(18,2) casts of o_totalprice (exact, order-independent);
    share divides exact integers. Scale shape: ONE map-side-combinable
    hash agg to |months| x |statuses| rows; the share window partitions
    that tiny matrix by month.
    """
    from pyspark.sql import Window

    month = F.trunc(F.to_date("o_orderdate"), "mm")
    per = (
        orders.select(
            month.alias("month_start"),
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(18,2)").alias("px"),
        )
        .groupBy("month_start", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("px"), 2).cast("double").alias("total_value"),
        )
    )
    per_month = Window.partitionBy("month_start")
    return (
        per.select(
            F.col("month_start").cast("timestamp_ntz").alias("month_start"),
            "o_orderstatus",
            "n_orders",
            "total_value",
            F.round(
                F.col("n_orders") / F.sum("n_orders").over(per_month).cast("double"),
                6,
            ).alias("share_of_month"),
        )
        .orderBy("month_start", "o_orderstatus")
    )


def fk_integrity_audit(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """Referential-integrity audit across the star schema: for every
    child->parent key relationship, the child row count, the orphan count
    (child keys with no parent row), and the orphan rate — the conformance
    pass a pipeline runs before trusting joins to be lossless (an inner
    join silently DROPS orphans; this query makes that loss visible).

    Returns (relationship, n_child_rows, n_orphans, orphan_rate) — one
    row per relationship, ordered by name.

    Scale shape: each parent prunes to its key column and dedups; the
    customer/part/supplier parents are dim-sized, so Spark broadcasts
    them into their child scans (no hint; AQE shuffles a parent that
    outgrows memory), and three of the four checks add zero shuffles
    beyond the child scan's agg; lineitem->orders is the one fact-fact check and
    plans as a single orderkey SMJ. Each check is ONE left join + a 1-row
    aggregate (no separate count pass); the four 1-row results union.
    """
    checks = [
        (
            "lineitem.l_orderkey -> orders",
            lineitem.select(F.col("l_orderkey").alias("k")),
            orders.select(F.col("o_orderkey").alias("k")),
        ),
        (
            "lineitem.l_partkey -> part",
            lineitem.select(F.col("l_partkey").alias("k")),
            part.select(F.col("p_partkey").alias("k")),
        ),
        (
            "lineitem.l_suppkey -> supplier",
            lineitem.select(F.col("l_suppkey").alias("k")),
            supplier.select(F.col("s_suppkey").alias("k")),
        ),
        (
            "orders.o_custkey -> customer",
            orders.select(F.col("o_custkey").alias("k")),
            customer.select(F.col("c_custkey").alias("k")),
        ),
    ]
    rows = []
    for name, child, parent in checks:
        p = parent.distinct().withColumn("_hit", F.lit(1))
        rows.append(
            child.join(p, "k", "left")
            .agg(
                F.count(F.lit(1)).alias("n_child_rows"),
                F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_orphans"),
            )
            .select(
                F.lit(name).alias("relationship"),
                "n_child_rows",
                "n_orphans",
                F.round(
                    F.col("n_orphans") / F.col("n_child_rows").cast("double"), 6
                ).alias("orphan_rate"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("relationship")


def nation_profit_by_year(
    lineitem: DataFrame,
    orders: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    pattern: str = "%widget%",
    cost_factor: float = 0.6,
) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for parts
    matching a name pattern (the driver schema has no partsupp, so unit
    cost is modeled as ``cost_factor * p_retailprice`` — the shape of the
    query, a 5-way star join feeding a two-key rollup, is what matters).

    Returns (nation_name, order_year, n_lineitems, profit) ordered by
    (nation_name, order_year).

    Scale shape: the part filter prunes at its scan and the surviving
    (partkey, retailprice) projection joins into lineitem, cutting the
    fact stream to matching parts before the wide join; the
    supplier->nation name map joins likewise. No join is hinted: nation
    (25 rows at any SF) broadcasts by size, and part and supplier scale
    with SF, so AQE broadcasts them while small and shuffles on
    partkey/suppkey once they outgrow the executors (a 20x probe of a
    hinted variant showed forced broadcasts going superlinear). The one unavoidable fact-fact shuffle is
    lineitem⋈orders on orderkey; the rollup after it is map-side
    combinable into |nations| x |years| rows. Cross-engine determinism:
    per-row profit quantizes to DECIMAL(18,4) BEFORE the sum, so
    accumulation is exact integer arithmetic in both engines regardless
    of partial-agg order.
    """
    parts = part.filter(F.col("p_name").like(pattern)).select(
        "p_partkey", "p_retailprice"
    )
    supp_nation = supplier.join(
        nation,
        supplier.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey", F.col("n_name").alias("nation_name"))
    profit = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.lit(cost_factor) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,4)")
    return (
        lineitem.join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", "nation_name", profit.alias("px"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation_name", F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.sum("px"), 2).cast("double").alias("profit"),
        )
        .orderBy("nation_name", "order_year")
    )


def part_supplier_counts(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """TPC-H Q16 shape: per (brand, size decade), how many DISTINCT
    suppliers have shipped such parts — excluding a denylisted supplier
    set (Q16's NOT IN subquery, expressed as a broadcast anti-join).
    The sf suppliers all have healthy balances, so the denylist uses the
    engine's planted-subset pattern (md5 first hex < '4', ~25%) to keep
    the exclusion non-vacuous, mirroring fk_integrity_audit.

    Returns (p_brand, size_decade, supplier_cnt, part_cnt) ordered by
    (supplier_cnt desc, p_brand, size_decade).

    Scale shape: the fact stream projects to (partkey, suppkey) and
    dedups — ONE shuffle on the composite key that also co-locates the
    later countDistinct. Neither the denylist (a filtered fraction of
    supplier) nor the part-attribute join is hinted — part scales with
    SF (a 20x probe showed a forced broadcast going superlinear as the
    hash table outgrew the executors), so AQE picks broadcast while a
    side is small and a key shuffle once it isn't.
    """
    denied = supplier.filter(
        F.substring(F.md5(F.col("s_suppkey").cast("string")), 1, 1) < "4"
    ).select("s_suppkey")
    pairs = (
        lineitem.select("l_partkey", "l_suppkey")
        .distinct()
        .join(denied, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
    )
    dims = part.select(
        "p_partkey",
        "p_brand",
        (F.floor(F.col("p_size") / 10) * 10).cast("int").alias("size_decade"),
    )
    return (
        pairs.join(dims, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "size_decade")
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.countDistinct("l_partkey").alias("part_cnt"),
        )
        .orderBy(F.desc("supplier_cnt"), "p_brand", "size_decade")
    )


def excess_shipment_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    pattern: str = "%widget%",
    year: int = 1997,
    factor: float = 1.2,
) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped MORE than ``factor`` x the
    part's average per-supplier quantity for pattern-matching parts in
    one calendar year — the "who is over-supplying which part" semijoin
    chain (partsupp's availqty threshold re-expressed over shipments).

    Returns (s_suppkey, s_name, n_excess_parts, max_over_ratio) ordered
    by (n_excess_parts desc, s_suppkey).

    Scale shape: the year filter pushes to the lineitem scan and the
    pattern-filtered part joins into it (AQE broadcasts it while small —
    part scales with SF, so no forced hint), cutting the fact stream
    twice before the ONE wide shuffle — the (partkey, suppkey) hash agg.
    That aggregated table is PERSISTED because both the per-part re-agg
    and the final join read it (without the pin the corpus-sized agg runs
    twice); the per-part stats join is likewise left to AQE. The final
    per-supplier rollup and the supplier-name join are tiny.
    Determinism: quantities quantize to DECIMAL(18,2) pre-sum, and the
    "over average" filter cross-multiplies (qty * n_supps vs factor *
    part_qty) so no engine ever performs a decimal division whose result
    scale could differ; the reported ratio is pure IEEE-double
    arithmetic on exactly-convertible decimal inputs, rounded to 6 dp.
    """
    from ..caching import tracked_persist

    parts = part.filter(F.col("p_name").like(pattern)).select("p_partkey")
    # explicit NTZ range, not year(l_shipdate)==year: the range form is a
    # min/max-prunable parquet PushedFilter; the year() form stays a
    # post-scan DataFilter and would read every year at 100 TB
    lo = F.lit(f"{year}-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit(f"{year + 1}-01-01 00:00:00").cast("timestamp_ntz")
    shipped = tracked_persist(
        lineitem.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
    )
    per_part = shipped.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("qty").alias("part_qty"),
        F.count(F.lit(1)).alias("n_supps"),
    )
    excess = (
        shipped.join(per_part, F.col("l_partkey") == F.col("pk"))
        .filter(
            F.col("qty").cast("double") * F.col("n_supps")
            > F.lit(factor) * F.col("part_qty").cast("double")
        )
        .select(
            "l_suppkey",
            F.round(
                F.col("qty").cast("double")
                * F.col("n_supps")
                / F.col("part_qty").cast("double"),
                6,
            ).alias("ratio"),
        )
    )
    return (
        excess.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_excess_parts"),
            F.max("ratio").alias("max_over_ratio"),
        )
        .join(
            supplier.select("s_suppkey", "s_name"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "n_excess_parts", "max_over_ratio")
        .orderBy(F.desc("n_excess_parts"), "s_suppkey")
    )


def discount_quantity_corr(
    lineitem: DataFrame,
    part: DataFrame,
    round_digits: int = 6,
) -> DataFrame:
    """Per-brand Pearson correlation between discount and quantity — the
    "does discounting actually move volume" elasticity screen, and the
    engine's co-moment aggregate (corr merges partial (n, Σx, Σy, Σxy,
    Σx², Σy²) states, so it is map-side combinable like any sum).

    Returns (p_brand, n_lineitems, avg_discount, corr_disc_qty) ordered
    by brand.

    Scale shape: part's (partkey, brand) projection joins into the
    lineitem scan UNHINTED — part scales with SF, so AQE broadcasts it
    while small and shuffle-joins once it outgrows the executors (the
    forced-broadcast variant measured superlinear at a 20x probe); ONE
    hash agg to |brands| rows carries all four aggregates in the same
    pass. Cross-engine determinism: counts exact; the correlation's
    partial-merge accumulation drift is ~1e-12 relative and rounds away
    at 6 dp (the avg() precedent).
    """
    dims = part.select("p_partkey", "p_brand")
    return (
        lineitem.join(dims, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.avg("l_discount"), round_digits).alias("avg_discount"),
            F.round(F.corr("l_discount", "l_quantity"), round_digits).alias(
                "corr_disc_qty"
            ),
        )
        .orderBy("p_brand")
    )


def order_value_percentile_bands(
    orders: DataFrame,
    customer: DataFrame,
    n_bands: int = 10,
) -> DataFrame:
    """Order-value decile bands per market segment via ``cume_dist`` —
    "where does the money sit inside each segment's order-size
    distribution". cume_dist (share of rows ≤ current) is the SQL-standard
    tie-stable percentile: equal prices always land in the same band on
    every engine, unlike row_number-based ntile whose tie assignment is
    nondeterministic under parallel sort.

    Returns (c_mktsegment, band, n_orders, band_lo, band_hi) ordered by
    (segment, band); band = floor(cume_dist * n_bands), top row clamped
    into the last band.

    Scale shape: customer's (custkey, segment) projection joins into
    orders (unhinted — customer scales with SF, AQE broadcasts while
    small). The naive ``Window.partitionBy(segment)`` form would sort
    each WHOLE segment in one task (|segments| cores total — measured
    76x at a 20x probe); the exact distribution instead comes from
    distributed_cume_dist, a running count from
    ``window_funcs.chunked_running_sum`` (range-repartition into
    ``spark.sql.shuffle.partitions`` ordered chunks + per-chunk offsets
    joined back + chunk-local count — still bit-exact cume_dist
    semantics). Then a |segments|·|bands| hash agg.
    """
    from .window_funcs import distributed_cume_dist

    seg = customer.select("c_custkey", "c_mktsegment")
    banded = distributed_cume_dist(
        orders.join(seg, F.col("o_custkey") == F.col("c_custkey")).select(
            "c_mktsegment", "o_totalprice"
        ),
        ["c_mktsegment"],
        "o_totalprice",
        out_col="_cd",
    ).withColumn(
        "band",
        F.least(
            F.floor(F.col("_cd") * n_bands).cast("int"),
            F.lit(n_bands - 1),
        ),
    )
    return (
        banded.groupBy("c_mktsegment", "band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("band_lo"),
            F.round(F.max("o_totalprice"), 2).alias("band_hi"),
        )
        .orderBy("c_mktsegment", "band")
    )
