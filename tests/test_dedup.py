"""Unit tests for the dedup operators (exact, MinHash-LSH, SimHash) with
known duplicate / near-duplicate / distinct fixtures.

These cover the queries the driver can only rows-check (xxhash64 signatures
are not DuckDB-expressible — see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the sun sets slowly "
    "behind the tall green hills and the river keeps flowing gently north "
    "past the old stone bridge where children play every single afternoon"
)
NEAR = BASE.replace("children play", "children laugh")  # one-word edit
DISTINCT = (
    "completely unrelated content about database query optimization and "
    "distributed shuffle exchange operators running on columnar parquet "
    "files with adaptive execution enabled for skewed join mitigation"
)


def _docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),                    # exact duplicate of 1
        (3, "  " + BASE.upper() + "  "),  # whitespace/case variant → exact dup after normalize
        (4, NEAR),                    # near-duplicate of 1
        (5, DISTINCT),
        (6, "short text"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicate_groups(spark):
    out = dedup.exact_duplicate_groups(_docs(spark)).collect()
    assert len(out) == 1
    assert out[0].keep_id == 1
    assert out[0].dup_count == 3  # ids 1, 2, 3 normalize identically


def test_shingles_deterministic_and_distinct(spark):
    df = spark.createDataFrame([("a b c d e",)], ["text"])
    [row] = df.select(dedup.word_shingles_col(F.col("text")).alias("sh")).collect()
    assert row.sh == ["a b c", "b c d", "c d e"]
    # duplicates collapse
    df2 = spark.createDataFrame([("x y z x y z x y z",)], ["text"])
    [row2] = df2.select(dedup.word_shingles_col(F.col("text")).alias("sh")).collect()
    assert sorted(row2.sh) == sorted(set(row2.sh))


def test_minhash_signature_shape_and_determinism(spark):
    df = _docs(spark)
    sigs = dedup.with_minhash(df).select("doc_id", "minhash").collect()
    by_id = {r.doc_id: r.minhash for r in sigs}
    assert all(len(s) == 32 for s in by_id.values())
    assert by_id[1] == by_id[2]  # identical text → identical signature
    # near-dup shares most (not necessarily all) signature slots
    shared = sum(a == b for a, b in zip(by_id[1], by_id[4]))
    assert shared >= 16
    # distinct doc shares almost none
    shared_far = sum(a == b for a, b in zip(by_id[1], by_id[5]))
    assert shared_far <= 4


def test_minhash_near_duplicates_pairs(spark):
    out = dedup.minhash_near_duplicates(_docs(spark), threshold=0.5)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in pairs          # exact dup pair survives any threshold
    assert (1, 4) in pairs          # one-word edit → high Jaccard
    assert all(5 not in p and 6 not in p for p in pairs)
    # jaccard values are sane
    for r in out.collect():
        assert 0.5 <= r.jaccard <= 1.0


def test_simhash_near_duplicates_pairs(spark):
    out = dedup.simhash_near_duplicates(_docs(spark), max_hamming=3)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in pairs
    assert all(5 not in p and 6 not in p for p in pairs)
    for r in out.collect():
        assert 0 <= r.hamming <= 3


def test_simhash_banding_complete_within_hamming(spark):
    # Plant pairs at Hamming 1/2/3 (bits spread across DIFFERENT blocks — the
    # worst case for banding) plus one at Hamming 4; pigeonhole says ≤3 must
    # all be found and the verify filter drops the 4.
    base = 0x1234_5678_9ABC_DEF
    sigs = [
        (0, base),
        (1, base ^ (1 << 5)),                                # hamming 1
        (2, base ^ (1 << 5) ^ (1 << 20)),                    # hamming 2
        (3, base ^ (1 << 5) ^ (1 << 20) ^ (1 << 40)),        # hamming 3
        (4, base ^ (1 << 5) ^ (1 << 20) ^ (1 << 40) ^ (1 << 60)),  # hamming 4
    ]
    df = spark.createDataFrame(sigs, ["doc_id", "simhash"])
    cands = dedup.simhash_candidate_pairs(df, max_hamming=3)
    found = {(r.id_a, r.id_b): r.hamming for r in cands.collect()}
    assert found[(0, 1)] == 1
    assert found[(0, 2)] == 2
    assert found[(0, 3)] == 3
    kept = {(r.id_a, r.id_b) for r in cands.filter(F.col("hamming") <= 3).collect()}
    assert (0, 4) not in kept


def test_simhash_banding_one_shared_block_no_candidates(spark):
    # Round-1 risk: 16-bit single-chunk keys put every doc sharing ONE chunk
    # in one bucket (quadratic at scale). Multi-block keys need blocks−d=3
    # blocks to agree, so docs agreeing on only block 0 must produce ZERO
    # candidate pairs — bucket membership is bounded by true similarity.
    import random

    rng = random.Random(11)
    shared_low = 0x3FF  # block 0 = bits 0..10
    rows = [(i, shared_low | (rng.getrandbits(50) << 11)) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "simhash"])
    pair_rows = dedup.simhash_candidate_pairs(df, max_hamming=3).collect()
    real = [r for r in pair_rows if r.hamming <= 3]
    assert len(real) == 0
    # and the candidate set itself stays tiny (no giant bucket): with 32-bit
    # keys, 40 random docs should hash-collide on ~0 tables.
    assert len(pair_rows) <= 2


def test_degenerate_docs_not_near_dups(spark):
    # Empty / punctuation-only docs must not band together (they'd otherwise
    # share the {''} shingle set and weld into one giant candidate bucket).
    rows = [(1, "!!!"), (2, "???"), (3, "   "), (4, ""), (5, BASE), (6, BASE)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    mh = {(r.id_a, r.id_b) for r in dedup.minhash_near_duplicates(df, threshold=0.5).collect()}
    sh = {(r.id_a, r.id_b) for r in dedup.simhash_near_duplicates(df).collect()}
    assert mh == {(5, 6)}
    assert sh == {(5, 6)}


def test_simhash_identical_iff_same_tokens(spark):
    df = spark.createDataFrame(
        [(1, "hello world foo"), (2, "hello   WORLD?! foo"), (3, "totally different words here")],
        ["doc_id", "text"],
    )
    sig = dedup.simhash_from_tokens_col(dedup._tokens(F.col("text")))
    rows = {r.doc_id: r.s for r in df.select("doc_id", sig.alias("s")).collect()}
    assert rows[1] == rows[2]  # same token multiset after normalization
    assert rows[1] != rows[3]
    assert all(s >= 0 for s in rows.values())  # sign bit kept clear


def test_banding_parameters_validated(spark):
    import pytest
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.dedup import (
        _validate_banding,
    )

    assert _validate_banding(32, 8) == 4
    for nh, b in [(32, 5), (8, 16), (32, 0)]:
        with pytest.raises(ValueError, match="divide"):
            _validate_banding(nh, b)


def test_dup_rate_by_source_cross_source_counts_both(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.dedup import (
        dup_rate_by_source,
    )

    docs = spark.createDataFrame(
        [
            (1, "same text", "a"),
            (2, "Same   TEXT ", "b"),   # normalized dup of 1, other source
            (3, "unique one", "a"),
            (4, "within b", "b"),
            (5, "within b", "b"),       # same-source dup pair
        ],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in dup_rate_by_source(docs).collect()}
    assert out["a"].n_docs == 2 and out["a"].n_dup_docs == 1
    assert abs(out["a"].dup_rate - 0.5) < 1e-9
    assert out["a"].n_distinct_texts == 2
    assert out["b"].n_docs == 3 and out["b"].n_dup_docs == 3  # cross + pair
    assert out["b"].n_distinct_texts == 2
