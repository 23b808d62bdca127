"""Parity tests: Arrow-vectorized kernels must equal their Catalyst twins.

The kernels (functions/kernels.py) are pure performance rewrites — same
math, vectorized through Arrow. These tests pin the equivalence on real
testdata so a kernel regression can't silently change near-dup answers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions import fingerprint as fpmod
from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions.kernels import (
    make_winnow_udf,
)
from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import similarity
from live_social_media_sentiment_trend_tracker_using_kafka_spark.sources.readers import table

from conftest import SF_SMOKE


def test_winnow_kernel_matches_catalyst(spark):
    docs = table(spark, "documents", SF_SMOKE)
    catalyst = fpmod.winnow_col(fpmod.kgram_hashes_col(F.col("text")))
    arrow = make_winnow_udf()(fpmod._normalize(F.col("text")))
    both = docs.select(
        "doc_id",
        F.array_sort(catalyst).alias("c"),
        F.array_sort(arrow).alias("a"),
    )
    bad = both.filter(F.col("c") != F.col("a")).count()
    assert bad == 0


def test_winnow_kernel_edge_cases(spark):
    rows = [(0, ""), (1, "ab"), (2, "abcdefg"), (3, "abcdefgh"), (4, "!!! ??"), (5, None)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    catalyst = fpmod.winnow_col(fpmod.kgram_hashes_col(F.col("text")))
    arrow = make_winnow_udf()(fpmod._normalize(F.col("text")))
    got = df.select(
        "doc_id", F.array_sort(catalyst).alias("c"), F.array_sort(arrow).alias("a")
    ).collect()
    for r in got:
        assert (r.c or []) == (r.a or []), f"doc {r.doc_id}: {r.c} vs {r.a}"


def test_srp_buckets_match_signature_col(spark):
    emb = table(spark, "embeddings", SF_SMOKE)
    planes = [similarity._hyperplanes(64, 8, 7 + t) for t in range(4)]
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions.kernels import (
        make_srp_buckets_udf,
    )

    srp = make_srp_buckets_udf(planes)
    per_table = [
        similarity.signature_col(F.col("embedding"), p).alias(f"t{t}")
        for t, p in enumerate(planes)
    ]
    both = emb.select("vec_id", srp(F.col("embedding")).alias("arrow"), *per_table)
    rows = both.collect()
    for r in rows:
        assert list(r.arrow) == [r.t0, r.t1, r.t2, r.t3], f"vec {r.vec_id}"


def test_kernels_tolerate_null_and_ragged_rows(spark):
    """A single null (or wrong-length) embedding row must not crash the Arrow
    kernels (ADVICE r2: np.vstack died with an opaque traceback where the
    Catalyst twins were null-tolerant). Null rows take the twin's semantics:
    cosine scores 0.0, buckets/codes are the zero-vector's, ADC can't win."""
    import numpy as np
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions.kernels import (
        make_query_cosine_udf,
        make_srp_buckets_udf,
        pair_cosine_udf,
    )

    q = np.ones(4)
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, None),
        (2, [1.0, 1.0]),  # ragged
        (3, [1.0, 1.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>").coalesce(1)
    got = {
        r.vec_id: r.c
        for r in df.select("vec_id", make_query_cosine_udf(q)(F.col("embedding")).alias("c")).collect()
    }
    assert abs(got[0] - 0.5) < 1e-9
    assert got[1] == 0.0 and got[2] == 0.0
    assert abs(got[3] - 1.0) < 1e-9

    pc = df.alias("a").crossJoin(df.alias("b")).select(
        pair_cosine_udf()(F.col("a.embedding"), F.col("b.embedding")).alias("c")
    )
    vals = [r.c for r in pc.collect()]
    assert len(vals) == 16 and all(v is not None for v in vals)

    srp = make_srp_buckets_udf([np.ones((3, 4))])
    bks = {r.vec_id: list(r.b) for r in df.select("vec_id", srp(F.col("embedding")).alias("b")).collect()}
    assert bks[1] == [0] and bks[2] == [0]  # zero-vector bucket
    assert bks[3] == [7]  # all-positive dots


def test_stack_vectors_modal_dim_survives_bad_leading_row(spark):
    import numpy as np
    import pandas as pd
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions.kernels import (
        _stack_vectors,
    )

    rows = [np.arange(3, dtype=float)] + [np.ones(8) * i for i in range(5)]
    M, mask = _stack_vectors(pd.Series(rows, dtype=object))
    assert M.shape[1] == 8  # modal dim wins, not first-seen
    assert mask.tolist() == [False, True, True, True, True, True]


def test_dim_guard_raises_on_misconfigured_dim(spark):
    import numpy as np
    import pandas as pd
    import pytest
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions import kernels

    q = np.ones(64)
    udf_fn = kernels.make_query_cosine_udf(q).func  # unwrap pandas_udf
    batch = pd.Series([np.ones(128) for _ in range(4)], dtype=object)
    with pytest.raises(ValueError, match="expected 64"):
        udf_fn(batch)
    # all-null batch still falls back to the null semantics (all zeros)
    out = udf_fn(pd.Series([None, None], dtype=object))
    assert out.tolist() == [0.0, 0.0]
