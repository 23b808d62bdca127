"""Semantics tests for CDC compaction operators (operators/cdc.py).

Oracle parity (test_oracle_parity) hash-checks the registered queries;
here we pin the PROMISED semantics on hand-built change logs: regime
collapse, interval chaining, tombstones, and resurrection.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import cdc


def _ts(s: str):
    return datetime.fromisoformat(s)


def _log(spark):
    rows = [
        # user 1: gold -> gold -> silver -> silver -> gold
        (1, _ts("2024-01-01 00:00:00"), 10, "gold"),
        (1, _ts("2024-01-02 00:00:00"), 11, "gold"),
        (1, _ts("2024-01-03 00:00:00"), 12, "silver"),
        (1, _ts("2024-01-04 00:00:00"), 13, "silver"),
        (1, _ts("2024-01-05 00:00:00"), 14, "gold"),
        # user 2: single row
        (2, _ts("2024-02-01 00:00:00"), 20, "bronze"),
        # user 3: same-ts tie broken by event_id (21 then 22)
        (3, _ts("2024-03-01 00:00:00"), 22, "silver"),
        (3, _ts("2024-03-01 00:00:00"), 21, "gold"),
    ]
    return spark.createDataFrame(rows, ["user_id", "ts", "event_id", "tier"])


def test_scd2_collapses_consecutive_regimes(spark):
    hist = cdc.scd2_history(_log(spark), "user_id", "ts", "tier", "event_id", "tier").collect()
    u1 = sorted([r for r in hist if r.user_id == 1], key=lambda r: r.valid_from)
    assert [r.tier for r in u1] == ["gold", "silver", "gold"]
    # intervals chain exactly: each valid_to equals the next valid_from
    assert u1[0].valid_to == u1[1].valid_from
    assert u1[1].valid_to == u1[2].valid_from
    assert u1[2].valid_to is None and u1[2].is_current
    assert not u1[0].is_current and not u1[1].is_current


def test_scd2_single_row_user_is_current(spark):
    hist = cdc.scd2_history(_log(spark), "user_id", "ts", "tier", "event_id", "tier")
    u2 = hist.filter(F.col("user_id") == 2).collect()
    assert len(u2) == 1 and u2[0].is_current and u2[0].valid_to is None


def test_scd2_equal_ts_ties_break_on_tiebreak_column(spark):
    hist = cdc.scd2_history(_log(spark), "user_id", "ts", "tier", "event_id", "tier")
    u3 = sorted(hist.filter(F.col("user_id") == 3).collect(), key=lambda r: r.tier)
    # event 21 (gold) sorts before 22 (silver): gold is the closed first
    # regime, silver the current one
    gold = [r for r in u3 if r.tier == "gold"][0]
    silver = [r for r in u3 if r.tier == "silver"][0]
    assert not gold.is_current and silver.is_current


def test_latest_snapshot_tombstone_drops_key(spark):
    rows = [
        (1, _ts("2024-01-01 00:00:00"), 1, "upsert", 1.0),
        (1, _ts("2024-01-02 00:00:00"), 2, "delete", 0.0),
        (2, _ts("2024-01-01 00:00:00"), 3, "upsert", 2.0),
    ]
    log = spark.createDataFrame(rows, ["k", "ts", "event_id", "op", "v"])
    snap = cdc.latest_snapshot(
        log, "k", "ts", "event_id", F.col("op") == "delete", ["op", "v"]
    ).collect()
    assert {r.k for r in snap} == {2}


def test_latest_snapshot_later_upsert_resurrects(spark):
    rows = [
        (1, _ts("2024-01-01 00:00:00"), 1, "upsert", 1.0),
        (1, _ts("2024-01-02 00:00:00"), 2, "delete", 0.0),
        (1, _ts("2024-01-03 00:00:00"), 3, "upsert", 9.0),
    ]
    log = spark.createDataFrame(rows, ["k", "ts", "event_id", "op", "v"])
    snap = cdc.latest_snapshot(
        log, "k", "ts", "event_id", F.col("op") == "delete", ["op", "v"]
    ).collect()
    assert len(snap) == 1 and snap[0].v == 9.0 and snap[0].event_id == 3


def test_latest_snapshot_equal_ts_highest_tiebreak_wins(spark):
    rows = [
        (1, _ts("2024-01-01 00:00:00"), 5, "upsert", 5.0),
        (1, _ts("2024-01-01 00:00:00"), 7, "upsert", 7.0),
        (1, _ts("2024-01-01 00:00:00"), 6, "upsert", 6.0),
    ]
    log = spark.createDataFrame(rows, ["k", "ts", "event_id", "op", "v"])
    snap = cdc.latest_snapshot(
        log, "k", "ts", "event_id", F.col("op") == "delete", ["op", "v"]
    ).collect()
    assert len(snap) == 1 and snap[0].event_id == 7 and snap[0].v == 7.0


def test_snapshot_diff_classifies_all_classes(spark):
    old = spark.createDataFrame(
        [(1, 10.0, "O"), (2, 20.0, "F"), (3, 30.0, "O"), (4, None, "O")],
        "k long, price double, status string",
    )
    new = spark.createDataFrame(
        [(1, 10.0, "O"), (2, 25.0, "F"), (5, 50.0, "O"), (4, 40.0, "O")],
        "k long, price double, status string",
    )
    out = {
        r.k: r
        for r in cdc.snapshot_diff(old, new, ["k"], ["price", "status"]).collect()
    }
    assert 1 not in out  # unchanged dropped
    assert out[2].diff_type == "changed" and out[2].new_price == 25.0
    assert out[3].diff_type == "removed" and out[3].new_price is None
    assert out[5].diff_type == "added" and out[5].old_price is None
    # null -> value counts as a change (null-safe comparison)
    assert out[4].diff_type == "changed"


def test_scd2_null_is_a_regime(spark):
    # value -> NULL -> value must produce three regimes, and a history
    # STARTING at NULL must open a regime (r10 review finding: plain
    # `attr != lag(attr)` drops every transition touching NULL)
    rows = [
        (1, _ts("2024-01-01 00:00:00"), 1, "gold"),
        (1, _ts("2024-01-02 00:00:00"), 2, None),
        (1, _ts("2024-01-03 00:00:00"), 3, "gold"),
        (2, _ts("2024-01-01 00:00:00"), 4, None),
        (2, _ts("2024-01-02 00:00:00"), 5, None),
        (2, _ts("2024-01-03 00:00:00"), 6, "bronze"),
    ]
    log = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, tier string")
    hist = cdc.scd2_history(log, "user_id", "ts", "tier", "event_id", "tier")
    u1 = sorted(hist.filter(F.col("user_id") == 1).collect(), key=lambda r: r.valid_from)
    assert [r.tier for r in u1] == ["gold", None, "gold"]
    assert u1[0].valid_to == u1[1].valid_from and u1[1].valid_to == u1[2].valid_from
    u2 = sorted(hist.filter(F.col("user_id") == 2).collect(), key=lambda r: r.valid_from)
    # consecutive NULLs collapse into ONE opening NULL regime
    assert [r.tier for r in u2] == [None, "bronze"]
    assert u2[0].valid_from == _ts("2024-01-01 00:00:00")
