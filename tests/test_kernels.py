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


def test_udfs_rebuilt_per_session_log_no_accumulator_errors():
    """A pandas UDF binds the SparkContext it first runs in. Built once per
    process, it makes every task of a later session report to the stopped
    context's accumulator server, which logs a ``Failed to update
    accumulator`` stack trace per task. The kernels and the pandas scorer
    are built per application, so a second session runs them cleanly. The
    JVM lives for the whole process, so this runs in a subprocess."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    code = f"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions import (
    fingerprint, kernels, sentiment,
)
from live_social_media_sentiment_trend_tracker_using_kafka_spark.session import build_session

for run in range(2):
    spark = build_session(master="local[2]", extra_conf={{"spark.ui.enabled": "false"}})
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps", [1.0, 2.0]), (2, "a lazy dog sleeps all day", [2.0, 1.0])],
        "id int, text string, v array<float>",
    )
    rows = df.select(
        kernels.make_winnow_udf()(fingerprint._normalize(F.col("text"))).alias("w"),
        kernels.pair_cosine_udf()(F.col("v"), F.col("v")).alias("c"),
        sentiment.sentiment_score_pandas_udf(F.col("text")).alias("s"),
    ).collect()
    assert len(rows) == 2 and all(abs(r.c - 1.0) < 1e-9 for r in rows), rows
    spark.stop()
print("TWO_SESSIONS_OK")
"""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")])))
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=600
    )
    assert "TWO_SESSIONS_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]
    bad = [ln for ln in out.stderr.splitlines() if "Failed to update accumulator" in ln]
    assert not bad, bad[:3]
