"""Skew audit: ``key_skew_audit`` and ``concentration_deciles`` report the
hot keys and the concentration that AQE's skew split and the map-side
partial aggregates absorb."""

from __future__ import annotations


def test_key_skew_audit_hand_computed(spark):
    """Counts/share/skew_vs_mean on a 3-key toy table: 6+3+1 rows ->
    total 10, mean 10/3; ordering is n_rows desc with the key tiebreak."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.skew import (
        key_skew_audit,
    )

    rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    out = [tuple(r) for r in key_skew_audit(df, ["k"]).collect()]
    assert out == [
        ("a", 6, 0.6, 1.8),
        ("b", 3, 0.3, 0.9),
        ("c", 1, 0.1, 0.3),
    ]


def test_key_skew_audit_top_k_and_tiebreak(spark):
    """k=2 keeps the heaviest two; equal counts break ties on the key."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.skew import (
        key_skew_audit,
    )

    rows = [("z",)] * 2 + [("y",)] * 2 + [("x",)] * 5
    df = spark.createDataFrame(rows, "k string")
    out = key_skew_audit(df, ["k"], k=2).collect()
    assert [(r["k"], r["n_rows"]) for r in out] == [("x", 5), ("y", 2)]


def test_concentration_deciles_all_ties_lump_into_one(spark):
    """Four keys with identical counts: every boundary equals the count, so
    no key strictly exceeds any boundary — one decile-1 row holding 100%."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.skew import (
        concentration_deciles,
    )

    df = spark.createDataFrame(
        [(u, i) for u in ("a", "b", "c", "d") for i in range(3)],
        "user_id string, x int",
    )
    out = concentration_deciles(df, ["user_id"]).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.decile, r.n_keys, r.n_rows) == (1, 4, 12)
    assert (r.row_share, r.cum_share_from_top) == (1.0, 1.0)


def test_concentration_deciles_invariants_and_top_heaviness(spark):
    """Counts 1..10 over ten keys: rows conserve, shares sum to 1, the
    bottom row's cumulative share is exactly 1, and the heaviest decile's
    keys hold more rows per key than the lightest's."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.skew import (
        concentration_deciles,
    )

    rows = [(f"u{k}", i) for k in range(1, 11) for i in range(k)]
    df = spark.createDataFrame(rows, "user_id string, x int")
    out = concentration_deciles(df, ["user_id"]).collect()
    assert sum(r.n_rows for r in out) == len(rows)
    assert sum(r.n_keys for r in out) == 10
    assert abs(sum(r.row_share for r in out) - 1.0) < 1e-5
    assert out[0].decile > out[-1].decile  # ordered heaviest first
    assert out[-1].cum_share_from_top == 1.0
    assert out[0].n_rows / out[0].n_keys > out[-1].n_rows / out[-1].n_keys
