"""Unit tests for the product-analytics tier (funnel, cohorts) on crafted
data where the ordering semantics actually discriminate — the sf corpus is
dense enough that every user converts, so oracle parity alone would not
catch a funnel that ignored stage order."""

from __future__ import annotations

import datetime as dt

from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
    cohort_retention,
    funnel_conversion,
)


def _ts(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, t, u, et, 1.0) for i, (u, et, t) in enumerate(rows)],
        "event_id long, ts timestamp_ntz, user_id string, event_type string, value double",
    )


def test_funnel_requires_strict_stage_order(spark):
    rows = [
        # u1: full ordered funnel — counts at every stage
        ("u1", "view", _ts(1, 1)), ("u1", "click", _ts(1, 2)), ("u1", "purchase", _ts(1, 3)),
        # u2: click BEFORE view — stops at view
        ("u2", "click", _ts(1, 1)), ("u2", "view", _ts(1, 2)),
        # u3: purchase before click — view+click only
        ("u3", "view", _ts(1, 1)), ("u3", "purchase", _ts(1, 2)), ("u3", "click", _ts(1, 3)),
        # u4: never viewed — not in the funnel at all
        ("u4", "click", _ts(1, 1)), ("u4", "purchase", _ts(1, 2)),
        # u5: click at the SAME instant as view — strict ">" excludes it
        ("u5", "view", _ts(1, 1)), ("u5", "click", _ts(1, 1)),
    ]
    out = {r.stage: r for r in funnel_conversion(_events(spark, rows)).collect()}
    assert out["view"].users == 4  # u1, u2, u3, u5
    assert out["click_after_view"].users == 2  # u1, u3
    assert out["purchase_after_click"].users == 1  # u1
    assert out["view"].conv_from_prev is None
    assert abs(out["click_after_view"].conv_from_prev - 0.5) < 1e-9
    assert abs(out["purchase_after_click"].conv_from_prev - 0.5) < 1e-9


def test_cohort_retention_offsets(spark):
    rows = [
        # u1 first seen day 1, active days 1, 2, 4 (two events day 2 dedupe)
        ("u1", "view", _ts(1)), ("u1", "click", _ts(2, 1)), ("u1", "view", _ts(2, 5)),
        ("u1", "view", _ts(4)),
        # u2 first seen day 2, active day 2 only
        ("u2", "view", _ts(2)),
    ]
    out = {(r.cohort_day, r.day_offset): r.n_users
           for r in cohort_retention(_events(spark, rows)).collect()}
    assert out[(_ts(1), 0)] == 1
    assert out[(_ts(1), 1)] == 1
    assert out[(_ts(1), 3)] == 1
    assert out[(_ts(2), 0)] == 1
    assert len(out) == 4


def test_cohort_retention_caps_offset(spark):
    rows = [("u1", "view", _ts(1)), ("u1", "view", _ts(20))]
    out = cohort_retention(_events(spark, rows), max_offset=14).collect()
    assert [(r.day_offset, r.n_users) for r in out] == [(0, 1)]


def test_rfm_segments_scores(spark):
    """4 users with strictly separated metrics land in distinct quartiles;
    plan must stay window-free (no single-partition ntile)."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        rfm_segments,
    )

    rows = []
    eid = 0
    # user k (1..4): last active day k (u4 most recent), k*5 events of value k
    for k in range(1, 5):
        for j in range(k * 5):
            rows.append((eid, _ts(k), f"u{k}", "view", float(k)))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id string, event_type string, value double"
    )
    out = rfm_segments(ev).collect()
    segs = {(r.r_score, r.f_score, r.m_score): r for r in out}
    # u4: most recent, most frequent, highest total spend -> (4, 4, 4)
    assert (4, 4, 4) in segs and segs[(4, 4, 4)].n_users == 1
    assert abs(segs[(4, 4, 4)].avg_monetary - 80.0) < 1e-9  # 20 events x 4.0
    # u1: most stale, least frequent, lowest spend -> (1, 1, 1)
    assert (1, 1, 1) in segs and segs[(1, 1, 1)].n_users == 1
    plan = rfm_segments(ev)._jdf.queryExecution().executedPlan().toString()
    # quartiles via broadcast percentiles, not a single-partition ntile;
    # the only windows allowed are exact_percentiles' chunk-partitioned
    # running sums (r11) — never an unpartitioned rank over users
    import re

    assert not re.search(r"\bntile\(", plan)  # \b: don't match percentile(
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_chunk" in line or "_o_chunk" in line, line


def test_lone_problem_suppliers_semantics_and_plan(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.relational import (
        lone_problem_suppliers,
    )

    li = spark.createDataFrame(
        [
            # order 1 (F): s1 returned, s2 present clean -> s1 is lone
            (1, 101, "R"), (1, 102, "N"),
            # order 2 (F): both returned -> neither counts
            (2, 101, "R"), (2, 102, "R"),
            # order 3 (F): single-supplier order -> no "other supplier", excluded
            (3, 101, "R"),
            # order 4 (status P): would qualify but not finalized
            (4, 101, "R"), (4, 102, "N"),
        ],
        "l_orderkey long, l_suppkey long, l_returnflag string",
    )
    orders = spark.createDataFrame(
        [(1, "F"), (2, "F"), (3, "F"), (4, "P")], "o_orderkey long, o_orderstatus string"
    )
    supplier = spark.createDataFrame(
        [(101, "Supplier#101"), (102, "Supplier#102")], "s_suppkey long, s_name string"
    )
    res = lone_problem_suppliers(li, orders, supplier)
    assert [(r.s_name, r.numwait) for r in res.collect()] == [("Supplier#101", 1)]
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_rolling_active_users_window_semantics(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        rolling_active_users,
    )

    rows = [
        # u1 active days 1 and 10 (gap > window: day 8-9 must NOT count u1)
        ("u1", "view", _ts(1)), ("u1", "view", _ts(10)),
        # u2 active days 1-3 (multiple events per day dedup to one)
        ("u2", "view", _ts(1)), ("u2", "click", _ts(1, 5)),
        ("u2", "view", _ts(2)), ("u2", "view", _ts(3)),
        # u3 active only day 11 == max day
        ("u3", "view", _ts(11)),
    ]
    got = {
        r.day.date(): r.active_users
        for r in rolling_active_users(_events(spark, rows), window_days=7).collect()
    }
    # brute-force truth over the [min_day, max_day] spine
    days = {u: {t.date() for (uu, _, t) in rows if uu == u} for u in ("u1", "u2", "u3")}
    expect = {}
    for d in range(1, 12):
        day = dt.date(2024, 1, d)
        n = sum(
            1
            for u, act in days.items()
            if any((day - a).days in range(0, 7) for a in act)
        )
        if n:
            expect[day] = n
    assert got == expect
    # the lo>hi guard: u3's span [11, 17] clamps to [11, 11]; nothing past
    # max day 11 may appear (an unguarded F.sequence would emit a
    # DESCENDING phantom run for spans starting past max_day)
    assert max(got) == dt.date(2024, 1, 11)


def test_last_touch_attribution_semantics(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        last_touch_attribution,
    )

    rows = [
        # u1: view -> click -> purchase  => click credited
        ("u1", "view", _ts(1, 1)), ("u1", "click", _ts(1, 2)), ("u1", "purchase", _ts(1, 3)),
        # u2: purchase with NO prior touch => 'none'
        ("u2", "purchase", _ts(1, 1)),
        # u3: view ... purchase, purchase (second purchase still credits the
        # last NON-purchase touch, not the first purchase)
        ("u3", "view", _ts(2, 1)), ("u3", "purchase", _ts(2, 2)), ("u3", "purchase", _ts(2, 3)),
        # u4: same-timestamp tie — event_id order breaks it (view has the
        # lower event_id because it comes first in this fixture list)
        ("u4", "view", _ts(3, 1)), ("u4", "purchase", _ts(3, 1)),
    ]
    out = {r.attributed_type: r for r in last_touch_attribution(_events(spark, rows)).collect()}
    assert out["click"].n_purchases == 1
    assert out["none"].n_purchases == 1
    assert out["view"].n_purchases == 3  # u3 twice + u4 tie-break
    assert abs(sum(r.share for r in out.values()) - 1.0) < 1e-6


def test_session_bounce_rate_counts_single_event_sessions(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        session_bounce_rate,
    )

    rows = [
        # u1 day1: two events 5 min apart -> ONE session, not a bounce
        ("u1", "view", _ts(1, 1)), ("u1", "click", dt.datetime(2024, 1, 1, 1, 5)),
        # u2 day1: single event -> bounce
        ("u2", "view", _ts(1, 2)),
        # u1 day2: single event -> bounce
        ("u1", "view", _ts(2, 1)),
    ]
    out = {r.day.date(): r for r in session_bounce_rate(_events(spark, rows)).collect()}
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    assert out[d1].n_sessions == 2 and out[d1].n_bounces == 1
    assert abs(out[d1].bounce_rate - 0.5) < 1e-9
    assert out[d2].n_sessions == 1 and out[d2].n_bounces == 1
    assert abs(out[d2].bounce_rate - 1.0) < 1e-9


def test_time_to_conversion_buckets_and_exclusions(spark):
    """Hour-bucketed first-view->first-purchase latency: 90 min -> bucket 1;
    simultaneous -> bucket 0; purchase-before-view and view-only users are
    excluded; the FIRST view/purchase per user is what counts."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        time_to_conversion,
    )
    from pyspark.sql import functions as F

    rows = [
        # user 1: first view 10:00 (second view later must not matter),
        # first purchase 11:30 -> 90 min -> bucket 1
        (1, "view", "2024-01-01 10:00:00"),
        (1, "view", "2024-01-01 11:00:00"),
        (1, "purchase", "2024-01-01 11:30:00"),
        (1, "purchase", "2024-01-02 00:00:00"),
        # user 2: purchase precedes first view -> excluded
        (2, "purchase", "2024-01-01 09:00:00"),
        (2, "view", "2024-01-01 10:00:00"),
        # user 3: view only -> excluded
        (3, "view", "2024-01-01 08:00:00"),
        # user 4: simultaneous -> bucket 0
        (4, "view", "2024-01-01 12:00:00"),
        (4, "purchase", "2024-01-01 12:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string"
    ).select("user_id", "event_type", F.col("ts").cast("timestamp_ntz").alias("ts"))
    out = [(r["hours_bucket"], r["n_users"]) for r in time_to_conversion(df).collect()]
    assert out == [(0, 1), (1, 1)]


def test_event_transitions_counts_and_probs(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        event_transitions,
    )

    rows = [
        # u1: view -> click -> click  (view->click, click->click)
        ("u1", "view", _ts(1, 1)), ("u1", "click", _ts(1, 2)), ("u1", "click", _ts(1, 3)),
        # u2: view -> purchase
        ("u2", "view", _ts(1, 1)), ("u2", "purchase", _ts(1, 2)),
        # u3: single event — no transition
        ("u3", "error", _ts(1, 1)),
    ]
    out = {
        (r.from_type, r.to_type): r
        for r in event_transitions(_events(spark, rows)).collect()
    }
    assert out[("view", "click")].n_transitions == 1
    assert out[("view", "purchase")].n_transitions == 1
    assert out[("click", "click")].n_transitions == 1
    assert len(out) == 3
    # view fans out 50/50; probs per from_type sum to 1
    assert out[("view", "click")].prob == 0.5
    assert out[("view", "purchase")].prob == 0.5
    assert out[("click", "click")].prob == 1.0


def test_event_transitions_tiebreak_on_event_id(spark):
    """Two events at the same ts order by event_id, so the transition chain
    is deterministic: id0(view) -> id1(click) -> id2(error)."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        event_transitions,
    )

    rows = [("u1", "view", _ts(1, 1)), ("u1", "click", _ts(1, 1)), ("u1", "error", _ts(1, 1))]
    got = {
        (r.from_type, r.to_type)
        for r in event_transitions(_events(spark, rows)).collect()
    }
    assert got == {("view", "click"), ("click", "error")}


def test_event_type_lift_baskets_and_independence(spark):
    """4 user-day baskets: {view,click} x2, {view} x1, {purchase} x1.
    lift(click,view) = n_both*n_baskets/(n_click*n_view) = 2*4/(2*3)."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        event_type_lift,
    )

    rows = [
        ("u1", "view", _ts(1, 1)), ("u1", "click", _ts(1, 2)),
        ("u1", "view", _ts(1, 3)),  # same basket — presence dedups
        ("u2", "view", _ts(1, 1)), ("u2", "click", _ts(1, 2)),
        ("u1", "view", _ts(2, 1)),  # u1 day2: view only
        ("u3", "purchase", _ts(1, 1)),
    ]
    out = event_type_lift(_events(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.type_a, r.type_b) == ("click", "view")  # sorted pair
    assert r.n_both == 2
    assert r.support == 0.5            # 2 of 4 baskets
    assert r.lift == round(2 * 4 / (2 * 3), 6)


def test_top_event_paths_counts_share_and_tiebreak(spark):
    """u1 contributes (view,click,purchase) and (click,purchase,view);
    u2 repeats (view,click,purchase) — so vcp counts 2 of 3 windows and
    the tie-free ordering puts it first; k cuts deterministically."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        top_event_paths,
    )

    rows = [
        ("u1", "view", _ts(1, 1)), ("u1", "click", _ts(1, 2)),
        ("u1", "purchase", _ts(1, 3)), ("u1", "view", _ts(1, 4)),
        ("u2", "view", _ts(1, 1)), ("u2", "click", _ts(1, 2)),
        ("u2", "purchase", _ts(1, 3)),
        ("u3", "view", _ts(1, 1)), ("u3", "click", _ts(1, 2)),  # < 3 events
    ]
    out = top_event_paths(_events(spark, rows)).collect()
    assert [(r.step1, r.step2, r.step3, r.n_paths, r.share) for r in out] == [
        ("view", "click", "purchase", 2, round(2 / 3, 6)),
        ("click", "purchase", "view", 1, round(1 / 3, 6)),
    ]
    top1 = top_event_paths(_events(spark, rows), k=1).collect()
    assert len(top1) == 1 and top1[0].n_paths == 2


def test_top_event_paths_orders_by_event_id_on_ts_ties(spark):
    """Three same-instant events: the event_id tiebreak fixes the path."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        top_event_paths,
    )

    rows = [("u1", "view", _ts(1, 1)), ("u1", "click", _ts(1, 1)),
            ("u1", "error", _ts(1, 1))]
    out = top_event_paths(_events(spark, rows)).collect()
    assert [(r.step1, r.step2, r.step3) for r in out] == [("view", "click", "error")]


def test_daily_new_vs_returning_decomposition(spark):
    """u1 active day1+day2, u2 first seen day2: day2 splits 1 new / 1
    returning; multiple same-day events dedup to one active row."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        daily_new_vs_returning,
    )

    rows = [
        ("u1", "view", _ts(1, 1)), ("u1", "click", _ts(1, 2)),  # day1, dedups
        ("u1", "view", _ts(2, 1)),
        ("u2", "view", _ts(2, 5)),
    ]
    out = {r.day.day: r for r in daily_new_vs_returning(_events(spark, rows)).collect()}
    d1, d2 = out[1], out[2]
    assert (d1.n_active_users, d1.n_new_users, d1.n_returning_users) == (1, 1, 0)
    assert d1.new_share == 1.0
    assert (d2.n_active_users, d2.n_new_users, d2.n_returning_users) == (2, 1, 1)
    assert d2.new_share == 0.5


def test_first_touch_vs_last_touch_attribution(spark):
    """u1: view -> click -> purchase. First-touch credits view; last-touch
    credits click; a first-purchase-only user credits 'none' in both."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        first_touch_attribution,
        last_touch_attribution,
    )

    rows = [
        ("u1", "view", _ts(1, 1)), ("u1", "click", _ts(1, 2)),
        ("u1", "purchase", _ts(1, 3)),
        ("u2", "purchase", _ts(1, 1)),
    ]
    first = {r.attributed_type: r.n_purchases
             for r in first_touch_attribution(_events(spark, rows)).collect()}
    last = {r.attributed_type: r.n_purchases
            for r in last_touch_attribution(_events(spark, rows)).collect()}
    assert first == {"view": 1, "none": 1}
    assert last == {"click": 1, "none": 1}


def test_repeat_purchase_intervals_bucket_edges(spark):
    """Gaps of exactly 5h59m59s, 6h, and 26h land in 0-6h, 6-24h, 6-24h:
    the 6h edge is exclusive-upper on the exact microsecond value."""
    import datetime as dt

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        repeat_purchase_intervals,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("u1", "purchase", base),
        ("u1", "purchase", base + dt.timedelta(hours=5, minutes=59, seconds=59)),
        ("u2", "purchase", base),
        ("u2", "purchase", base + dt.timedelta(hours=6)),
        ("u3", "purchase", base),
        ("u3", "purchase", base + dt.timedelta(hours=26)),
        ("u3", "view", base + dt.timedelta(hours=27)),  # non-purchase ignored
    ]
    df = spark.createDataFrame(
        [(i, t, u, et, 1.0) for i, (u, et, t) in enumerate(rows)],
        "event_id long, ts timestamp_ntz, user_id string, event_type string, value double",
    )
    out = {r.bucket: r for r in repeat_purchase_intervals(df).collect()}
    assert out["0-6h"].n_intervals == 1
    assert out["6-24h"].n_intervals == 1
    assert out["1-3d"].n_intervals == 1
    assert [r.bucket_order for r in repeat_purchase_intervals(df).collect()] == [0, 1, 2]
    assert abs(sum(r.share for r in out.values()) - 1.0) < 1e-5


def test_user_stickiness_dau_over_wau(spark):
    """Days 1-2: u1 active both, u2 only day 1. Day1 dau=2 wau=2; day2
    dau=1 but wau still 2 (u2 inside the trailing week) -> 0.5."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        user_stickiness,
    )

    rows = [
        ("u1", "view", _ts(1, 1)), ("u2", "view", _ts(1, 2)),
        ("u1", "view", _ts(2, 1)),
    ]
    out = {r.day.day: r for r in user_stickiness(_events(spark, rows)).collect()}
    assert (out[1].dau, out[1].wau, out[1].stickiness) == (2, 2, 1.0)
    assert (out[2].dau, out[2].wau, out[2].stickiness) == (1, 2, 0.5)
