"""Stateful streaming tests: cross-micro-batch state is exercised by feeding
two files through maxFilesPerTrigger=1 (two batches under AvailableNow)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from live_social_media_sentiment_trend_tracker_using_kafka_spark.sources.readers import (
    posts_file_stream,
)
from live_social_media_sentiment_trend_tracker_using_kafka_spark.streaming import (
    run_available_now_to_memory,
)
from live_social_media_sentiment_trend_tracker_using_kafka_spark.streaming.stateful import (
    dedup_stream,
)


def _post(user, text, ts, likes=1):
    return {"text": text, "user": user, "platform": "tw", "user_followers": 1,
            "likes": likes, "retweets": 0, "location": {"city": "X", "country": "Y"},
            "timestamp": ts}


@pytest.fixture()
def two_batches(tmp_path):
    # batch 1: u1 twice (intra-batch dup key), u2 once
    b1 = [_post("u1", "a", "2024-01-01 10:00:00", likes=2),
          _post("u1", "b", "2024-01-01 10:00:05", likes=3),
          _post("u2", "c", "2024-01-01 10:00:10", likes=5)]
    # batch 2: u1 again (cross-batch dup key), u3 new
    b2 = [_post("u1", "d", "2024-01-01 10:01:00", likes=7),
          _post("u3", "e", "2024-01-01 10:01:05", likes=11)]
    (tmp_path / "part-0001.json").write_text("\n".join(json.dumps(p) for p in b1))
    (tmp_path / "part-0002.json").write_text("\n".join(json.dumps(p) for p in b2))
    return str(tmp_path)


def _stream(spark, path):
    raw = posts_file_stream(spark, path, max_files_per_trigger=1)
    return raw.withColumn("event_ts", F.to_timestamp("timestamp"))


def test_dedup_stream_drops_cross_batch_duplicates(spark, two_batches):
    dd = dedup_stream(_stream(spark, two_batches), ["user"], ts_col="event_ts")
    out = run_available_now_to_memory(dd, spark)
    users = sorted(r.user for r in out.select("user").collect())
    # u1 appears 3 times across both batches -> kept once
    assert users == ["u1", "u2", "u3"]

