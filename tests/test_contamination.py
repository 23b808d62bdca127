"""Unit tests for benchmark decontamination (operators/contamination.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import contamination

BENCH_TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
CLEAN_TEXT = "one two three four five six seven eight nine ten eleven"
# shares the first 7 words with BENCH_TEXT, then diverges
PARTIAL_TEXT = "alpha beta gamma delta epsilon zeta eta unrelated words here now"


def _frames(spark):
    cand = spark.createDataFrame(
        [(1, BENCH_TEXT), (2, CLEAN_TEXT), (3, PARTIAL_TEXT), (4, "tiny")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, BENCH_TEXT)], ["doc_id", "text"])
    return cand, bench


def test_contamination_fractions(spark):
    cand, bench = _frames(spark)
    rows = {
        r["doc_id"]: r
        for r in contamination.contamination_stats(cand, bench, n=5).collect()
    }
    # doc 1 is an exact copy: every 5-gram contaminated
    assert rows[1]["contam_frac"] == 1.0
    assert rows[1]["n_contaminated"] == rows[1]["n_grams"]
    # doc 2 shares nothing
    assert rows[2]["contam_frac"] == 0.0
    # doc 3: 11 tokens → 7 5-grams, of which the first 3 come from BENCH_TEXT
    assert rows[3]["n_grams"] == 7
    assert rows[3]["n_contaminated"] == 3
    # doc 4 ("tiny"): shorter than n → one short gram, not in benchmark
    assert rows[4]["n_grams"] == 1 and rows[4]["n_contaminated"] == 0


def test_hash_and_string_keys_agree(spark):
    cand, bench = _frames(spark)
    a = sorted(
        contamination.contamination_stats(cand, bench, n=5, use_hash=True).collect()
    )
    b = sorted(
        contamination.contamination_stats(cand, bench, n=5, use_hash=False).collect()
    )
    assert a == b


def test_decontaminate(spark):
    cand, bench = _frames(spark)
    kept = sorted(
        r["doc_id"]
        for r in contamination.decontaminate(cand, bench, n=5, max_frac=0.5).collect()
    )
    # doc 1 (frac 1.0) dropped; doc 3 (3/7 ≈ 0.43) kept; docs 2 and 4 kept
    assert kept == [2, 3, 4]


def test_empty_benchmark_keeps_everything(spark):
    cand, _ = _frames(spark)
    bench = spark.createDataFrame([], "doc_id long, text string")
    assert contamination.decontaminate(cand, bench).count() == cand.count()
    stats = contamination.contamination_stats(cand, bench)
    assert stats.agg(F.sum("n_contaminated")).head()[0] == 0


# --------------------------------------------------------------------------
# Bloom tier
# --------------------------------------------------------------------------

def test_bloom_parameters_shapes():
    m, k = contamination.bloom_parameters(1000, 0.01)
    assert m % 64 == 0 and m >= 9000  # ~9.6 bits/item at 1%
    assert 5 <= k <= 10
    import pytest

    with pytest.raises(ValueError):
        contamination.bloom_parameters(10, 0.0)


def test_bloom_no_false_negatives_and_exact_on_fixture(spark):
    cand, bench = _frames(spark)
    bloom = contamination.bloom_contamination_stats(cand, bench, n=5, fpp=0.01)
    exact = contamination.contamination_stats(cand, bench, n=5).select(
        "doc_id", F.col("n_contaminated").alias("n_exact")
    )
    rows = {r.doc_id: r for r in bloom.join(exact, "doc_id").collect()}
    # doc 1 IS the benchmark: every gram must hit (FN-free is a hard law)
    assert rows[1].n_contaminated_bloom == rows[1].n_grams == rows[1].n_exact
    # bloom may only overcount
    assert all(r.n_contaminated_bloom >= r.n_exact for r in rows.values())


def test_bloom_fp_rate_within_budget(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    cand = docs.filter(F.col("doc_id") % 20 != 0)
    bloom = contamination.bloom_contamination_stats(cand, bench, n=5, fpp=0.01)
    exact = contamination.contamination_stats(cand, bench, n=5).select(
        "doc_id", F.col("n_contaminated").alias("n_exact")
    )
    agg = (
        bloom.join(exact, "doc_id", "left")
        .na.fill({"n_exact": 0})
        .agg(
            F.sum("n_grams").alias("g"),
            F.sum("n_exact").alias("e"),
            F.sum("n_contaminated_bloom").alias("b"),
            F.sum(F.when(F.col("n_contaminated_bloom") < F.col("n_exact"), 1).otherwise(0)).alias("fn"),
        )
        .first()
    )
    assert agg.fn == 0, "Bloom false negative — impossible unless hashes diverged"
    fp_rate = (agg.b - agg.e) / max(agg.g - agg.e, 1)
    assert fp_rate < 0.03, f"fp rate {fp_rate} vs fpp=0.01 budget"


def test_bloom_query_contract_is_jvm_side(spark):
    import __spark_entry__ as entrymod
    from plan_util import (
        assert_no_python_udf,
        plan_text,
    )

    df = entrymod.q_bloom_decontamination(spark, "/root/testdata/sf0.001")
    assert_no_python_udf(df)
    rows = df.collect()
    assert rows
    assert all(r.no_false_negative for r in rows)
    # the probe itself must not shuffle the corpus: the bloom side joins as
    # a broadcast, never a shuffled join of exploded (doc, gram) pairs
    assert "BroadcastNestedLoopJoin" in plan_text(df) or "BroadcastHashJoin" in plan_text(df)
