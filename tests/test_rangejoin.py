"""Bucketized range join: equivalence with the naive containment join,
boundary/closed semantics, null handling, left join add-back, and the plan
invariant that motivates the operator (equi-join on the bucket, no
cartesian / nested-loop containment scan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.rangejoin import (
    auto_bucket_seconds,
    bucketed_range_join,
)
from plan_util import plan_text


def _facts(spark, rows):
    return spark.createDataFrame(rows, "fact_id int, ts string").select(
        "fact_id", F.col("ts").cast("timestamp_ntz").alias("ts")
    )


def _ivals(spark, rows):
    return spark.createDataFrame(rows, "ival_id int, lo string, hi string").select(
        "ival_id",
        F.col("lo").cast("timestamp_ntz").alias("lo"),
        F.col("hi").cast("timestamp_ntz").alias("hi"),
    )


@pytest.fixture(scope="module")
def facts(spark):
    # every 40 minutes across 2 days
    return _facts(
        spark,
        [(i, f"2024-03-0{1 + (i * 40) // 1440} {((i * 40) % 1440) // 60:02d}:{(i * 40) % 60:02d}:00") for i in range(60)],
    )


@pytest.fixture(scope="module")
def ivals(spark):
    # assorted widths: 1 h, 3 h, zero-length, overlapping
    return _ivals(
        spark,
        [
            (0, "2024-03-01 01:00:00", "2024-03-01 02:00:00"),
            (1, "2024-03-01 01:30:00", "2024-03-01 04:30:00"),
            (2, "2024-03-02 10:00:00", "2024-03-02 10:00:00"),
            (3, "2024-03-01 23:00:00", "2024-03-02 01:00:00"),
        ],
    )


def _naive(facts, ivals, closed="both"):
    upper = F.col("ts") <= F.col("hi") if closed == "both" else F.col("ts") < F.col("hi")
    return facts.join(ivals, (F.col("ts") >= F.col("lo")) & upper)


def _pairs(df):
    return {(r.fact_id, r.ival_id) for r in df.select("fact_id", "ival_id").collect()}


@pytest.mark.parametrize("closed", ["both", "left"])
@pytest.mark.parametrize("bucket", [60, 3600, 7200, 86400])
def test_matches_naive_join_any_bucket(spark, facts, ivals, closed, bucket):
    got = bucketed_range_join(
        facts, ivals, bucket_seconds=bucket, closed=closed
    )
    assert _pairs(got) == _pairs(_naive(facts, ivals, closed))


def test_auto_bucket_matches_naive(spark, facts, ivals):
    w = auto_bucket_seconds(ivals, "lo", "hi")
    assert w >= 1
    got = bucketed_range_join(facts, ivals)
    assert _pairs(got) == _pairs(_naive(facts, ivals))


def test_closed_both_includes_hi_boundary(spark):
    f = _facts(spark, [(1, "2024-03-01 02:00:00")])
    iv = _ivals(spark, [(7, "2024-03-01 01:00:00", "2024-03-01 02:00:00")])
    assert _pairs(bucketed_range_join(f, iv, closed="both")) == {(1, 7)}
    assert _pairs(bucketed_range_join(f, iv, closed="left")) == set()


def test_null_rows_never_match(spark):
    f = _facts(spark, [(1, None), (2, "2024-03-01 01:30:00")])
    iv = _ivals(
        spark,
        [(7, "2024-03-01 01:00:00", "2024-03-01 02:00:00"), (8, None, "2024-03-01 02:00:00")],
    )
    assert _pairs(bucketed_range_join(f, iv)) == {(2, 7)}


def test_left_join_keeps_matchless_facts(spark, facts, ivals):
    left = bucketed_range_join(facts, ivals, how="left")
    inner = bucketed_range_join(facts, ivals)
    assert left.filter(F.col("ival_id").isNull()).count() > 0
    # every fact appears; matched pairs identical to inner
    assert left.select("fact_id").distinct().count() == facts.count()
    assert _pairs(left.filter(F.col("ival_id").isNotNull())) == _pairs(inner)


def test_equi_keys_restrict_matches(spark):
    f = spark.createDataFrame(
        [(1, "u1", "2024-03-01 01:30:00"), (2, "u2", "2024-03-01 01:30:00")],
        "fact_id int, user string, ts string",
    ).select("fact_id", "user", F.col("ts").cast("timestamp_ntz").alias("ts"))
    iv = spark.createDataFrame(
        [(7, "u1", "2024-03-01 01:00:00", "2024-03-01 02:00:00")],
        "ival_id int, user string, lo string, hi string",
    ).select(
        "ival_id",
        "user",
        F.col("lo").cast("timestamp_ntz").alias("lo"),
        F.col("hi").cast("timestamp_ntz").alias("hi"),
    )
    assert _pairs(bucketed_range_join(f, iv, equi_keys=["user"])) == {(1, 7)}


def test_ambiguous_columns_rejected(spark, facts):
    clash = facts.select("fact_id", "ts", F.col("ts").alias("lo"), F.col("ts").alias("hi"))
    with pytest.raises(ValueError, match="ambiguous"):
        bucketed_range_join(facts, clash.select("fact_id", "lo", "hi"))


def test_plan_is_equi_join_not_nested_loop(spark, facts, ivals):
    """The whole point: containment compiled to a hash/sort-merge equi-join
    on the bucket key — no BroadcastNestedLoopJoin, no CartesianProduct."""
    df = bucketed_range_join(facts, ivals, bucket_seconds=3600)
    plan = plan_text(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_registry_query_contract(spark):
    df = __import__("__spark_entry__").q_range_join_windows(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert rows, "no windows matched"
    # windows are 7h of a 13h stride: dense event data must fill most
    assert all(r.n_events > 0 for r in rows)


def test_left_join_null_payload_fact_not_duplicated(spark):
    """Matched facts carrying NULLs must not be re-emitted by the left
    add-back (the anti-join is null-safe on every fact column)."""
    f = spark.createDataFrame(
        [(1, "2024-03-01 01:30:00", None), (2, "2024-03-09 01:30:00", None)],
        "fact_id int, ts string, payload string",
    ).select("fact_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "payload")
    iv = _ivals(spark, [(7, "2024-03-01 01:00:00", "2024-03-01 02:00:00")])
    rows = bucketed_range_join(f, iv, how="left").collect()
    assert len(rows) == 2  # fact 1 matched once, fact 2 added back once
    by_id = {r.fact_id: r for r in rows}
    assert by_id[1].ival_id == 7 and by_id[2].ival_id is None


def test_inverted_intervals_dropped_not_exploded(spark):
    f = _facts(spark, [(1, "2024-03-01 01:30:00")])
    iv = _ivals(
        spark,
        [
            (7, "2024-03-01 01:00:00", "2024-03-01 02:00:00"),
            (8, "2024-03-05 00:00:00", "2024-03-01 00:00:00"),  # lo > hi
        ],
    )
    assert _pairs(bucketed_range_join(f, iv)) == {(1, 7)}
    # auto width ignores the corrupt span
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.rangejoin import (
        auto_bucket_seconds,
    )
    assert auto_bucket_seconds(iv, "lo", "hi") == 3600
