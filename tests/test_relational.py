"""Semantic unit tests for relational operators (the plan-shape claims
live in test_plans.py; oracle parity in test_oracle_parity.py /
the driver contract)."""

from pyspark.sql import functions as F  # noqa: F401

from conftest import at_widths

from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.relational import (
    bracket_revenue,
)


def test_bracket_revenue_hand_computed(spark):
    """Each line item lands in the bracket whose brand/size/quantity all
    match; out-of-window quantities and non-bracket brands drop; revenue
    is sum(extendedprice * (1 - discount)) rounded to 2 dp."""
    part = spark.createDataFrame(
        [
            (1, "Brand#12", 10),   # small bracket (size <= 15)
            (2, "Brand#23", 20),   # medium bracket (size <= 25)
            (3, "Brand#5", 30),    # large bracket (size <= 35)
            (4, "Brand#9", 5),     # brand outside every bracket
            (5, "Brand#12", 40),   # size outside the small bracket
        ],
        "p_partkey long, p_brand string, p_size int",
    )
    li = spark.createDataFrame(
        [
            (1, 10.0, 100.0, 0.1),   # small: qty 1-15 ok -> 90.00
            (1, 20.0, 100.0, 0.0),   # qty 20 outside small -> dropped
            (2, 15.0, 200.0, 0.25),  # medium: qty 10-30 ok -> 150.00
            (3, 30.0, 50.0, 0.0),    # large: qty 20-50 ok -> 50.00
            (3, 45.0, 10.0, 0.5),    # large again -> 5.00
            (4, 10.0, 999.0, 0.0),   # brand not in any bracket -> dropped
            (5, 10.0, 999.0, 0.0),   # size 40 > 15 -> dropped
        ],
        "l_partkey long, l_quantity double, l_extendedprice double, l_discount double",
    )
    out = {r["bracket"]: r for r in bracket_revenue(li, part).collect()}
    assert set(out) == {"bracket_small", "bracket_medium", "bracket_large"}
    assert (out["bracket_small"]["n_items"], out["bracket_small"]["revenue"]) == (1, 90.0)
    assert (out["bracket_medium"]["n_items"], out["bracket_medium"]["revenue"]) == (1, 150.0)
    assert (out["bracket_large"]["n_items"], out["bracket_large"]["revenue"]) == (2, 55.0)


def test_ship_latency_audit_violations_and_latency(spark):
    """One ship-before-order row among three for priority A: the audit
    reports its share, the exact-integer mean, and the max day diff."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.relational import (
        ship_latency_audit,
    )
    import datetime as dt

    orders = spark.createDataFrame(
        [
            (1, "1-URGENT", dt.datetime(2024, 1, 10)),
            (2, "1-URGENT", dt.datetime(2024, 1, 20)),
            (3, "5-LOW", dt.datetime(2024, 1, 1)),
        ],
        "o_orderkey long, o_orderpriority string, o_orderdate timestamp_ntz",
    )
    li = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 15)),   # +5
            (1, dt.datetime(2024, 1, 5)),    # -5: violation
            (2, dt.datetime(2024, 2, 19)),   # +30
            (3, dt.datetime(2024, 1, 1)),    # 0 — same day is NOT a violation
        ],
        "l_orderkey long, l_shipdate timestamp_ntz",
    )
    out = {r.o_orderpriority: r for r in ship_latency_audit(li, orders).collect()}
    urgent = out["1-URGENT"]
    assert urgent.n_items == 3
    assert urgent.violation_share == round(1 / 3, 6)
    assert urgent.avg_latency_days == 10.0
    assert urgent.max_latency_days == 30
    low = out["5-LOW"]
    assert (low.n_items, low.violation_share, low.max_latency_days) == (1, 0.0, 0)


def test_supplier_diversity_distincts_per_brand(spark):
    """Brand A: 2 suppliers x 2 parts over 3 lines (one repeated combo);
    brand B single-sourced."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.relational import (
        supplier_diversity,
    )

    part = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "B")], "p_partkey long, p_brand string"
    )
    li = spark.createDataFrame(
        [(1, 10), (1, 10), (2, 20), (3, 10)],
        "l_partkey long, l_suppkey long",
    )
    out = {r.p_brand: r for r in supplier_diversity(li, part).collect()}
    assert (out["A"].n_suppliers, out["A"].n_parts, out["A"].n_lines) == (2, 2, 3)
    assert (out["B"].n_suppliers, out["B"].n_parts, out["B"].n_lines) == (1, 1, 1)


def test_monthly_order_mix_shares_and_month_boundary(spark):
    """Orders on Jan 31 and Feb 1 land in different months; shares sum to
    1 within each month and values accumulate exactly."""
    import datetime as dt

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.relational import (
        monthly_order_mix,
    )

    orders = spark.createDataFrame(
        [
            (1, "O", 10.0, dt.datetime(2024, 1, 31)),
            (2, "F", 20.0, dt.datetime(2024, 1, 15)),
            (3, "O", 30.0, dt.datetime(2024, 1, 1)),
            (4, "O", 40.0, dt.datetime(2024, 2, 1)),
        ],
        "o_orderkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp_ntz",
    )
    out = {(r.month_start.month, r.o_orderstatus): r
           for r in monthly_order_mix(orders).collect()}
    assert set(out) == {(1, "O"), (1, "F"), (2, "O")}
    jan_o = out[(1, "O")]
    assert (jan_o.n_orders, jan_o.total_value) == (2, 40.0)
    assert jan_o.share_of_month == round(2 / 3, 6)
    assert out[(1, "F")].share_of_month == round(1 / 3, 6)
    assert out[(2, "O")].share_of_month == 1.0


def test_fk_integrity_audit_counts_true_orphans(spark):
    """Crafted orphans (the planted-gap query exercises fractions; this
    pins the raw operator): lineitem row 3 references order 99 (absent),
    order 2 references customer 9 (absent)."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.relational import (
        fk_integrity_audit,
    )

    li = spark.createDataFrame(
        [(1, 10, 100), (1, 11, 100), (99, 10, 100)],
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    orders = spark.createDataFrame([(1, 5), (2, 9)], "o_orderkey long, o_custkey long")
    customer = spark.createDataFrame([(5,)], "c_custkey long")
    part = spark.createDataFrame([(10,), (11,)], "p_partkey long")
    supplier = spark.createDataFrame([(100,)], "s_suppkey long")
    out = {r.relationship: r
           for r in fk_integrity_audit(li, orders, customer, part, supplier).collect()}
    r = out["lineitem.l_orderkey -> orders"]
    assert (r.n_child_rows, r.n_orphans, r.orphan_rate) == (3, 1, round(1 / 3, 6))
    assert out["lineitem.l_partkey -> part"].n_orphans == 0
    assert out["lineitem.l_suppkey -> supplier"].n_orphans == 0
    rc = out["orders.o_custkey -> customer"]
    assert (rc.n_child_rows, rc.n_orphans, rc.orphan_rate) == (2, 1, 0.5)


def test_cheapest_supplier_ignores_cross_part_price_collisions(spark):
    """Part 1's non-min row (7.0) equals part 2's min price (7.0). If the
    best-price join back ever degenerates to price-only matching (the
    same-lineage self-join trap this formulation avoids by renaming the
    agg key), a bogus (part 1, 7.0) group appears."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.relational import (
        cheapest_supplier_per_part,
    )

    part = spark.createDataFrame(
        [(1, "pa", 5), (2, "pb", 5)], "p_partkey long, p_name string, p_size long"
    )
    supplier = spark.createDataFrame(
        [(100, "s100"), (200, "s200"), (300, "s300")],
        "s_suppkey long, s_name string",
    )
    li = spark.createDataFrame(
        [(1, 100, 1.0, 5.0), (1, 300, 1.0, 7.0), (2, 200, 1.0, 7.0)],
        "l_partkey long, l_suppkey long, l_quantity double, l_extendedprice double",
    )
    out = cheapest_supplier_per_part(part, supplier, li).collect()
    assert {(r.p_partkey, r.s_suppkey, r.min_unit_price) for r in out} == {
        (1, 100, 5.0),
        (2, 200, 7.0),
    }


def test_nation_profit_by_year_hand_computed(spark):
    """Only pattern-matching parts contribute; profit is
    extprice*(1-disc) - 0.6*retail*qty per row, grouped by supplier
    nation x order year."""
    from datetime import datetime

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.relational import (
        nation_profit_by_year,
    )

    part = spark.createDataFrame(
        [(1, "red widget", 10.0), (2, "blue bolt", 99.0)],
        "p_partkey long, p_name string, p_retailprice double",
    )
    supplier = spark.createDataFrame(
        [(1, 0), (2, 1)], "s_suppkey long, s_nationkey int"
    )
    nation = spark.createDataFrame(
        [(0, "N0"), (1, "N1")], "n_nationkey int, n_name string"
    )
    orders = spark.createDataFrame(
        [(100, datetime(1997, 3, 1)), (101, datetime(1998, 7, 1))],
        "o_orderkey long, o_orderdate timestamp_ntz",
    )
    li = spark.createDataFrame(
        [
            # widget via supp 1 (N0), order 1997: 100*(1-0.1) - 0.6*10*2 = 78.00
            (100, 1, 1, 2.0, 100.0, 0.1),
            # widget via supp 2 (N1), order 1998: 50*1 - 0.6*10*1 = 44.00
            (101, 2, 1, 1.0, 50.0, 0.0),
            # non-widget part -> dropped
            (100, 1, 2, 1.0, 999.0, 0.0),
        ],
        "l_orderkey long, l_suppkey long, l_partkey long, "
        "l_quantity double, l_extendedprice double, l_discount double",
    )
    rows = {
        (r["nation_name"], r["order_year"]): r
        for r in nation_profit_by_year(li, orders, part, supplier, nation).collect()
    }
    assert set(rows) == {("N0", 1997), ("N1", 1998)}
    assert rows[("N0", 1997)]["profit"] == 78.0
    assert rows[("N0", 1997)]["n_lineitems"] == 1
    assert rows[("N1", 1998)]["profit"] == 44.0


def test_part_supplier_counts_excludes_denylist_and_dedups(spark):
    """Denylisted suppliers (md5 first hex < '4') never count; repeated
    shipments of the same (part, supplier) pair count once."""
    from pyspark.sql import functions as F

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.relational import (
        part_supplier_counts,
    )

    # pick one denied + two allowed suppkeys by evaluating the same md5 rule
    import hashlib

    denied = [k for k in range(1, 50) if hashlib.md5(str(k).encode()).hexdigest()[0] < "4"]
    allowed = [k for k in range(1, 50) if hashlib.md5(str(k).encode()).hexdigest()[0] >= "4"]
    d, a1, a2 = denied[0], allowed[0], allowed[1]

    part = spark.createDataFrame(
        [(1, "Brand#1", 12), (2, "Brand#1", 17)],
        "p_partkey long, p_brand string, p_size int",
    )
    supplier = spark.createDataFrame(
        [(d, 1.0), (a1, 1.0), (a2, 1.0)], "s_suppkey long, s_acctbal double"
    )
    li = spark.createDataFrame(
        [(1, a1), (1, a1), (1, a2), (1, d), (2, a1)],
        "l_partkey long, l_suppkey long",
    )
    rows = {(r["p_brand"], r["size_decade"]): r
            for r in part_supplier_counts(li, part, supplier).collect()}
    # size 12 -> decade 10; size 17 -> decade 10 too: one group, both parts
    assert set(rows) == {("Brand#1", 10)}
    assert rows[("Brand#1", 10)]["supplier_cnt"] == 2  # a1, a2; d excluded
    assert rows[("Brand#1", 10)]["part_cnt"] == 2


def test_excess_shipment_suppliers_boundary_and_year_filter(spark):
    """Strictly-over-1.2x-the-part-average suppliers only; shipments
    outside the target year and non-matching parts are invisible."""
    from datetime import datetime

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.relational import (
        excess_shipment_suppliers,
    )

    part = spark.createDataFrame(
        [(1, "green widget"), (2, "steel bolt")], "p_partkey long, p_name string"
    )
    supplier = spark.createDataFrame(
        [(1, "S1"), (2, "S2")], "s_suppkey long, s_name string"
    )
    li = spark.createDataFrame(
        [
            # part 1 in 1997: supp1 ships 30, supp2 ships 10 -> avg 20;
            # supp1 ratio 1.5 > 1.2 (excess), supp2 0.5 (not)
            (1, 1, 30.0, datetime(1997, 5, 1)),
            (1, 2, 10.0, datetime(1997, 6, 1)),
            # 1996 shipment of part 1 must not shift the 1997 average
            (1, 2, 500.0, datetime(1996, 6, 1)),
            # non-widget part: huge skew, still invisible
            (2, 1, 1000.0, datetime(1997, 1, 1)),
            (2, 2, 1.0, datetime(1997, 1, 2)),
        ],
        "l_partkey long, l_suppkey long, l_quantity double, l_shipdate timestamp_ntz",
    )
    rows = excess_shipment_suppliers(li, part, supplier).collect()
    assert [(r["s_suppkey"], r["n_excess_parts"], r["max_over_ratio"]) for r in rows] == [
        (1, 1, 1.5)
    ]


def test_discount_quantity_corr_perfect_and_inverse(spark):
    """corr = +1 for a brand where quantity rises with discount, -1 where
    it falls; counts and avg discount are exact."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.relational import (
        discount_quantity_corr,
    )

    part = spark.createDataFrame(
        [(1, "B1"), (2, "B2")], "p_partkey long, p_brand string"
    )
    li = spark.createDataFrame(
        [
            (1, 0.00, 1.0), (1, 0.05, 2.0), (1, 0.10, 3.0),   # B1: +1
            (2, 0.00, 9.0), (2, 0.05, 6.0), (2, 0.10, 3.0),   # B2: -1
        ],
        "l_partkey long, l_discount double, l_quantity double",
    )
    rows = {r["p_brand"]: r for r in discount_quantity_corr(li, part).collect()}
    assert rows["B1"]["corr_disc_qty"] == 1.0
    assert rows["B2"]["corr_disc_qty"] == -1.0
    assert rows["B1"]["n_lineitems"] == 3
    assert rows["B1"]["avg_discount"] == 0.05


def test_order_value_bands_ties_share_band_and_top_clamped(spark):
    """Equal prices land in the same cume_dist band; the max row clamps
    into the last band instead of spilling to band == n_bands."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.relational import (
        order_value_percentile_bands,
    )

    customer = spark.createDataFrame([(1, "SEG")], "c_custkey long, c_mktsegment string")
    # 4 orders: two tied at 10.0 (cume_dist 0.5 -> band 2 with n_bands=4),
    # then 20.0 (0.75 -> band 3... floor(0.75*4)=3), and 30.0 (1.0 -> clamp 3)
    orders = spark.createDataFrame(
        [(i, 1, p) for i, p in enumerate([10.0, 10.0, 20.0, 30.0])],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    rows = {r["band"]: r for r in
            order_value_percentile_bands(orders, customer, n_bands=4).collect()}
    # ties at 10.0: cume_dist 2/4 = 0.5 -> floor(0.5*4) = band 2, together
    assert rows[2]["n_orders"] == 2 and rows[2]["band_lo"] == 10.0
    # 20.0 -> cume 0.75 -> band 3; 30.0 -> cume 1.0 -> floor = 4, clamped to 3
    assert 4 not in rows
    assert rows[3]["n_orders"] == 2 and rows[3]["band_hi"] == 30.0


def test_distributed_cume_dist_equals_window_cume_dist(spark):
    """The range-chunked exact distribution must equal the classic window
    cume_dist row for row — including heavy ties and values straddling
    chunk boundaries (many chunks over few values forces straddle
    attempts) — at every chunk width."""
    import random

    from pyspark.sql import Window

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.window_funcs import (
        distributed_cume_dist,
    )

    rng = random.Random(7)
    rows = [("g" + str(rng.randint(0, 2)), float(rng.randint(0, 9))) for _ in range(500)]
    df = spark.createDataFrame(rows, "g string, x double")
    w = Window.partitionBy("g").orderBy("x")
    want = df.withColumn("c", F.cume_dist().over(w))
    k = lambda r: (r["g"], r["x"], round(r["c"], 12))
    for got in at_widths(spark, lambda: distributed_cume_dist(df, ["g"], "x", out_col="c")):
        assert sorted(map(k, got)) == sorted(map(k, want.collect()))


def test_distributed_cume_dist_empty_and_null_groups(spark):
    """Empty input returns an empty frame with the output column (no
    schema-inference crash), and NULL partition keys form a group exactly
    like window cume_dist (null-safe offset join)."""
    from pyspark.sql import Window

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.window_funcs import (
        distributed_cume_dist,
    )

    empty = spark.createDataFrame([], "g string, x int")
    out = distributed_cume_dist(empty, ["g"], "x", out_col="c")
    assert out.count() == 0 and out.columns == ["g", "x", "c"]

    df = spark.createDataFrame(
        [(None, 1), (None, 2), (None, 2), ("a", 5), ("a", 7)], "g string, x int"
    )
    w = Window.partitionBy("g").orderBy("x")
    want = df.withColumn("c", F.cume_dist().over(w))
    k = lambda r: (r["g"], r["x"], round(r["c"], 12))
    for got in at_widths(spark, lambda: distributed_cume_dist(df, ["g"], "x", out_col="c")):
        assert sorted(map(k, got), key=str) == sorted(map(k, want.collect()), key=str)


def test_chunked_running_sum_matches_window_multi_part(spark):
    """chunked_running_sum == the textbook inclusive window sum (RANGE
    frame: tied order keys share their total), for multi-column partition
    keys, NULL group keys, NULL order values (sort first), tied non-unique
    order values, a multi-column string order (md5, id), and every chunk
    width."""
    from pyspark.sql import Window

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.window_funcs import (
        chunked_running_sum,
    )

    rows = [
        ("a", "x", 1, 10),
        ("a", "x", 2, 20),
        ("a", "x", 2, 4),
        ("a", "y", 1, 5),
        ("b", "x", 3, 7),
        ("b", "x", 3, 8),
        (None, "x", 1, 3),
        (None, "x", 4, 9),
        ("a", None, 2, 11),
        ("a", "x", None, 100),
        ("a", "x", None, 1),
    ]
    rows += [("c", "z", i % 5, i) for i in range(60)]
    df = spark.createDataFrame(rows, "g1 string, g2 string, o int, v int").withColumn(
        "id", F.monotonically_increasing_id()
    ).withColumn("m", F.md5(F.col("id").cast("string")))
    df = df.localCheckpoint()  # pin the ids: both sides must see the same rows
    for order in (["o"], ["m", "id"]):
        w = Window.partitionBy("g1", "g2").orderBy(*order)
        want = sorted(
            ((r["id"], r["run"]) for r in df.withColumn("run", F.sum("v").over(w)).collect()),
            key=str,
        )
        for got in at_widths(
            spark, lambda: chunked_running_sum(df, ["g1", "g2"], order, "v", "run")
        ):
            assert sorted(((r["id"], r["run"]) for r in got), key=str) == want, order
