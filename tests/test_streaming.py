"""Streaming-semantics tests (SURVEY.md §5.4): deterministic file-source
streams drained with Trigger.AvailableNow, asserting streaming output equals
the same operators run in batch."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.enrich import enrich_posts
from live_social_media_sentiment_trend_tracker_using_kafka_spark.sources.readers import read_posts_json
from live_social_media_sentiment_trend_tracker_using_kafka_spark.streaming import (
    await_drain,
    enriched_file_stream,
    fan_out_sinks,
    interval_join_streams,
    run_available_now_to_memory,
    run_update_sink_to_parquet,
    start_file_sink,
    stop_all_streams,
    windowed_platform_stats,
    windowed_sentiment_counts,
)

POSTS = [
    {"text": "I love this! #great #spark", "user": "a", "platform": "Twitter",
     "user_followers": 10, "likes": 5, "retweets": 1,
     "location": {"city": "Paris", "country": "France"},
     "timestamp": "2024-01-01 10:00:10"},
    {"text": "This is terrible... #fail", "user": "b", "platform": "Reddit",
     "user_followers": 20, "likes": 0, "retweets": 0,
     "location": {"city": "Lyon", "country": "France"},
     "timestamp": "2024-01-01 10:00:40"},
    {"text": "", "user": "c", "platform": "Twitter",  # filtered (P1)
     "user_followers": 0, "likes": 0, "retweets": 0,
     "location": None, "timestamp": "2024-01-01 10:01:05"},
    {"text": "Neutral words only here", "user": "d", "platform": "Twitter",
     "user_followers": 5, "likes": 2, "retweets": 2,
     "location": {"city": "Berlin", "country": "Germany"},
     "timestamp": "2024-01-01 10:01:30"},
    {"text": "Amazing awesome great product #great", "user": "e", "platform": "Reddit",
     "user_followers": 7, "likes": 9, "retweets": 3,
     "location": {"city": "Munich", "country": "Germany"},
     "timestamp": "2024-01-01 10:02:15"},
]


@pytest.fixture()
def posts_dir(tmp_path):
    # two files → two availableNow micro-batches with maxFilesPerTrigger=1
    (tmp_path / "part-0001.json").write_text("\n".join(json.dumps(p) for p in POSTS[:3]))
    (tmp_path / "part-0002.json").write_text("\n".join(json.dumps(p) for p in POSTS[3:]))
    return str(tmp_path)


def test_enriched_stream_matches_batch(spark, posts_dir):
    stream = enriched_file_stream(spark, posts_dir)
    got = run_available_now_to_memory(stream, spark).drop("processing_timestamp")
    want = enrich_posts(read_posts_json(spark, posts_dir)).drop("processing_timestamp")
    key = lambda r: r["user"]
    got_rows = sorted(got.collect(), key=key)
    want_rows = sorted(want.collect(), key=key)
    assert [r.asDict() for r in got_rows] == [r.asDict() for r in want_rows]
    # empty-text row dropped, sentiment labels as expected
    by_user = {r["user"]: r for r in got_rows}
    assert set(by_user) == {"a", "b", "d", "e"}
    assert by_user["a"]["sentiment_label"] == "positive"
    assert by_user["b"]["sentiment_label"] == "negative"
    assert by_user["d"]["sentiment_label"] == "neutral"
    assert by_user["a"]["hashtags"] == ["great", "spark"]
    assert by_user["a"]["city"] == "Paris"


def test_windowed_sentiment_counts_match_batch(spark, posts_dir):
    stream = windowed_sentiment_counts(
        enriched_file_stream(spark, posts_dir), window="1 minute"
    )
    got = run_available_now_to_memory(stream, spark, output_mode="complete")
    batch = enrich_posts(read_posts_json(spark, posts_dir))
    want = (
        batch.groupBy(F.window("event_ts", "1 minute"), "sentiment_label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("window_start"), "sentiment_label", "cnt")
    )
    key = lambda r: (r["window_start"], r["sentiment_label"])
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)
    assert got.count() > 0


def test_windowed_platform_stats_sliding(spark, posts_dir):
    stream = windowed_platform_stats(
        enriched_file_stream(spark, posts_dir, with_sentiment_udf=False),
        window="2 minutes",
        slide="1 minute",
    )
    got = run_available_now_to_memory(stream, spark, output_mode="complete")
    rows = got.collect()
    # sliding windows: each event lands in 2 windows
    total = sum(r["cnt"] for r in rows)
    assert total == 2 * 4  # 4 surviving posts × 2 windows each
    tw = [r for r in rows if r["platform"] == "Twitter"]
    assert tw and all(r["avg_likes"] is not None for r in tw)


def test_file_sink_restart_commits_each_valid_post_once(spark, tmp_path):
    """The checkpointed parquet sink drains a posts directory; after one more
    file lands (a valid post and a malformed line), a restart on the same
    checkpoint commits only that file, so each valid post is read back
    exactly once and the malformed line is dropped. The restart takes more
    files per trigger: its source offsets, not a batch numbering that
    happens to repeat, must decide what is new."""
    src, out, ckpt = tmp_path / "posts", str(tmp_path / "sink"), str(tmp_path / "ckpt")
    src.mkdir()
    (src / "part-0001.json").write_text("\n".join(json.dumps(p) for p in POSTS[:3]))
    (src / "part-0002.json").write_text("\n".join(json.dumps(p) for p in POSTS[3:]))

    def drain_and_read_users(files_per_trigger):
        stream = enriched_file_stream(
            spark, str(src), with_sentiment_udf=False, max_files_per_trigger=files_per_trigger
        )
        await_drain(start_file_sink(stream, out, ckpt, available_now=True))
        return sorted(r.user for r in spark.read.parquet(out).select("user").collect())

    assert drain_and_read_users(1) == ["a", "b", "d", "e"]
    late = dict(POSTS[0], user="f", text="fresh post #new", timestamp="2024-01-01 10:03:00")
    (src / "part-0003.json").write_text(json.dumps(late) + "\n{not json\n")
    assert drain_and_read_users(8) == ["a", "b", "d", "e", "f"]


def test_fan_out_single_query_two_sinks(spark, posts_dir, tmp_path):
    stream = enriched_file_stream(spark, posts_dir, with_sentiment_udf=False)
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    q = fan_out_sinks(
        stream,
        {
            "rows": lambda b: b.select("user", "platform", "likes").write.mode("append").parquet(out_a),
            "counts": lambda b: b.groupBy("platform").count().write.mode("append").parquet(out_b),
        },
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    assert q.awaitTermination(120)
    rows = spark.read.parquet(out_a)
    counts = spark.read.parquet(out_b).groupBy("platform").agg(F.sum("count").alias("n"))
    assert rows.count() == 4
    got = {r["platform"]: r["n"] for r in counts.collect()}
    assert got == {"Twitter": 2, "Reddit": 2}


@pytest.mark.parametrize("n_writers, persisted", [(1, False), (2, True)])
def test_fan_out_persists_only_shared_batches(spark, posts_dir, tmp_path, n_writers, persisted):
    """A micro-batch is persisted only when more than one writer reads it:
    one writer runs the upstream pipeline once anyway."""
    seen = []
    q = fan_out_sinks(
        enriched_file_stream(spark, posts_dir, with_sentiment_udf=False),
        {f"w{i}": lambda b: seen.append(b.storageLevel.useMemory) for i in range(n_writers)},
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    assert q.awaitTermination(120)
    assert seen and all(v is persisted for v in seen), seen


def test_available_now_start_scopes_state_partitions(spark, posts_dir, tmp_path):
    """The AvailableNow partition rule lives in the library: a bounded
    stateful drain runs max(defaultParallelism // 4, 8) state-store
    partitions whatever the session says, and the session keeps its own
    value."""
    foreign = spark.newSession()
    foreign.conf.set("spark.sql.shuffle.partitions", "64")
    agg = windowed_sentiment_counts(
        enriched_file_stream(foreign, posts_dir, with_sentiment_udf=False)
    )
    q = run_update_sink_to_parquet(
        agg, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        key_cols=["window_start", "sentiment_label"],
        available_now=True,
    )
    assert q.awaitTermination(120)
    want = max(spark.sparkContext.defaultParallelism // 4, 8)
    parts = {op["numShufflePartitions"] for p in q.recentProgress for op in p["stateOperators"]}
    assert parts == {want}
    assert foreign.conf.get("spark.sql.shuffle.partitions") == "64"


def test_update_sink_upserts_across_micro_batches(spark, tmp_path):
    """The deployable streaming-agg shape: update-mode foreachBatch upsert
    into key-partitioned parquet. Batch 2 adds rows to an EXISTING window —
    the rewritten partition must hold the new total, and untouched windows
    must survive."""
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (src / "f1.json").write_text("\n".join(json.dumps(p) for p in POSTS[:3]))

    def drain():
        stream = windowed_sentiment_counts(
            enriched_file_stream(spark, str(src), with_sentiment_udf=False),
            window="1 minute",
        )
        q = run_update_sink_to_parquet(
            stream, out, ckpt,
            key_cols=["window_start", "sentiment_label"],
            available_now=True,
        )
        assert q.awaitTermination(120)

    drain()
    first = {
        (r["window_start"], r["sentiment_label"]): r["cnt"]
        for r in spark.read.parquet(out).collect()
    }
    assert sum(first.values()) == 2  # posts a, b (empty-text c filtered)

    # second micro-batch: two more posts, one landing in a NEW window and one
    # whose (window, label) key may collide with batch 1 → upsert semantics
    (src / "f2.json").write_text("\n".join(json.dumps(p) for p in POSTS[3:]))
    drain()
    got = spark.read.parquet(out)
    want = (
        enrich_posts(read_posts_json(spark, str(src)), with_sentiment_udf=False)
        .groupBy(F.window("event_ts", "1 minute"), "sentiment_label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("window_start"), "sentiment_label", "cnt")
    )
    key = lambda r: (r["window_start"], r["sentiment_label"])
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    assert {key(r): r["cnt"] for r in got.collect()} == {key(r): r["cnt"] for r in want.collect()}


def test_update_sink_keys_proven_unique_matches_guarded(spark, tmp_path):
    """r14: keys_proven_unique skips the per-batch dup-guard job + persist
    (measured ~40% of the sf0.1 drain). Contract: (1) the proven path's
    output table is IDENTICAL to the guarded default's; (2) the guarded
    default still fails loudly on a partial key — the safety the hint
    opts out of must keep existing where not explicitly proven."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "f1.json").write_text("\n".join(json.dumps(p) for p in POSTS[:3]))
    (src / "f2.json").write_text("\n".join(json.dumps(p) for p in POSTS[3:]))

    def drain(out, ckpt, proven):
        stream = windowed_sentiment_counts(
            enriched_file_stream(spark, str(src), with_sentiment_udf=False),
            window="1 minute",
        )
        q = run_update_sink_to_parquet(
            stream, out, ckpt,
            key_cols=["window_start", "sentiment_label"],
            available_now=True,
            keys_proven_unique=proven,
        )
        assert q.awaitTermination(120)

    drain(str(tmp_path / "out_g"), str(tmp_path / "ck_g"), proven=False)
    drain(str(tmp_path / "out_p"), str(tmp_path / "ck_p"), proven=True)
    key = lambda r: (r["window_start"], r["sentiment_label"], r["cnt"])
    got_g = sorted(map(key, spark.read.parquet(str(tmp_path / "out_g")).collect()))
    got_p = sorted(map(key, spark.read.parquet(str(tmp_path / "out_p")).collect()))
    assert got_g == got_p and len(got_p) > 0

    # partial key (window only — posts a/b share the 10:00 window and carry
    # two labels under the default lexicon UDF: positive vs negative) must
    # still fail loudly on the guarded DEFAULT path
    from pyspark.errors.exceptions.captured import StreamingQueryException

    stream = windowed_sentiment_counts(
        enriched_file_stream(spark, str(src)), window="1 minute"
    )
    q = run_update_sink_to_parquet(
        stream, str(tmp_path / "out_bad"), str(tmp_path / "ck_bad"),
        key_cols=["window_start"],
        available_now=True,
    )
    with pytest.raises(StreamingQueryException, match="uniquely key"):
        q.awaitTermination(120)
        q.processAllAvailable()


def test_interval_join_streams_match_batch(spark, tmp_path):
    """Stream-stream interval self-join (platform as key): each post joined
    to later posts on the same platform within 2 minutes, streaming output
    equal to the identical join run in batch."""
    d = tmp_path / "ij"
    d.mkdir()
    (d / "f.json").write_text("\n".join(json.dumps(p) for p in POSTS))
    mk = lambda: enriched_file_stream(spark, str(d), with_sentiment_udf=False).select(
        "user", "platform", "event_ts"
    )
    joined = interval_join_streams(
        mk(), mk(), key_col="platform", max_delay="2 minutes"
    )
    got = run_available_now_to_memory(joined, spark)
    batch = enrich_posts(read_posts_json(spark, str(d)), with_sentiment_udf=False).select(
        "user", "platform", "event_ts"
    )
    want = interval_join_streams(batch, batch, key_col="platform", max_delay="2 minutes")
    key = lambda r: (r["user"], r["r_user"])
    got_pairs = sorted(map(key, got.collect()))
    want_pairs = sorted(map(key, want.collect()))
    assert got_pairs == want_pairs and len(got_pairs) > 0
    # Twitter: a(10:00:10) -> d(10:01:30); Reddit: b(10:00:40) -> e(10:02:15)
    assert ("a", "d") in got_pairs and ("b", "e") in got_pairs
    # no self-pairs (strictly-later constraint)
    assert all(a != b for a, b in got_pairs)


def test_end_to_end_dedup_window_upsert(spark, tmp_path):
    """Full deployable topology in one query: file stream → enrichment →
    watermark-scoped dedup → tumbling-window counts → update-mode parquet
    upsert, drained across two micro-batch runs with replayed duplicates.
    The final table must equal the batch pipeline over the deduped union."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.streaming import (
        dedup_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (src / "f1.json").write_text("\n".join(json.dumps(p) for p in POSTS[:3]))

    def drain():
        enriched = enriched_file_stream(spark, str(src), with_sentiment_udf=False)
        deduped = dedup_stream(enriched, key_cols=["user", "text"])
        windowed = windowed_sentiment_counts(deduped, window="1 minute", watermark=None)
        q = run_update_sink_to_parquet(
            windowed, out, ckpt,
            key_cols=["window_start", "sentiment_label"],
            available_now=True,
        )
        assert q.awaitTermination(120)

    drain()
    # second batch: replay post b (duplicate — must NOT count twice) + new posts
    (src / "f2.json").write_text(
        "\n".join(json.dumps(p) for p in [POSTS[1]] + POSTS[3:])
    )
    drain()

    got = {
        (r["window_start"], r["sentiment_label"]): r["cnt"]
        for r in spark.read.parquet(out).collect()
    }
    batch = enrich_posts(read_posts_json(spark, str(src)), with_sentiment_udf=False)
    want_df = (
        batch.dropDuplicates(["user", "text"])
        .groupBy(F.window("event_ts", "1 minute"), "sentiment_label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("window_start"), "sentiment_label", "cnt")
    )
    want = {
        (r["window_start"], r["sentiment_label"]): r["cnt"] for r in want_df.collect()
    }
    assert got == want
    assert sum(got.values()) == 4  # a, b (once), d, e


def test_available_now_timeout_raises(spark, posts_dir):
    stream = enriched_file_stream(spark, posts_dir, with_sentiment_udf=False)
    with pytest.raises(TimeoutError):
        run_available_now_to_memory(stream, spark, timeout_sec=0.05)


def test_stop_all_streams_idempotent(spark, posts_dir):
    stream = enriched_file_stream(spark, posts_dir, with_sentiment_udf=False)
    q = (
        stream.writeStream.format("memory")
        .queryName("t_stopme")
        .outputMode("append")
        .trigger(processingTime="10 seconds")
        .start()
    )
    assert q.isActive
    stopped, leftover = stop_all_streams(spark)
    assert stopped >= 1 and leftover == []
    assert not spark.streams.active
    assert stop_all_streams(spark) == (0, [])


def test_kafka_option_passthrough_contract():
    """S1/S2/T5 contract, broker-free: the exact option dicts handed to the
    Kafka source/sink must carry the reference's knobs with Spark's expected
    key spellings and string encodings (consumer/spark_streaming_job.py:110-118,
    producer/kafka_producer.py:82-87). The sandbox ships no broker or
    spark-sql-kafka jar, so this pins the passthrough layer itself."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.sources.readers import (
        kafka_sink_options,
        kafka_source_options,
    )

    assert kafka_source_options() == {
        "kafka.bootstrap.servers": "localhost:9092",
        "subscribe": "social-media-posts",
        "startingOffsets": "latest",
        "failOnDataLoss": "false",
        "maxOffsetsPerTrigger": "100",
    }
    # None disables the throttle; booleans lower-case like Spark expects
    opts = kafka_source_options(
        topic="t", bootstrap_servers="b:9", starting_offsets="earliest",
        max_offsets_per_trigger=None, fail_on_data_loss=True,
    )
    assert "maxOffsetsPerTrigger" not in opts
    assert opts["failOnDataLoss"] == "true"
    assert opts["startingOffsets"] == "earliest"
    assert kafka_sink_options("out", checkpoint="/tmp/ckpt") == {
        "kafka.bootstrap.servers": "localhost:9092",
        "topic": "out",
        "checkpointLocation": "/tmp/ckpt",
    }


def test_streaming_sessions_append_mode_emits_watermark_closed_subset(spark):
    """Production shape for streaming sessionization (r4 VERDICT item 4):
    append output mode emits exactly the sessions the final watermark has
    closed, holding back open ones — bounded state, unlike the complete-mode
    drain the oracle-parity query q_streaming_user_sessions uses.

    Boundary-tolerant: sessions whose end (last event + 30 min gap) is
    strictly inside the watermark must appear; sessions past it must not;
    the ==watermark edge may land either side.
    """
    import __spark_entry__ as entrymod
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.session import scoped_conf
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.sources.readers import (
        normalize_ts,
    )
    from tests.conftest import SF_SMOKE

    raw_schema = entrymod.table(spark, "events", SF_SMOKE).schema
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_SMOKE)
    )
    with scoped_conf(spark, "spark.sql.session.timeZone", "UTC"):
        ev = normalize_ts(raw).withColumn("ts", F.col("ts").cast("timestamp"))
        sess = (
            ev.withWatermark("ts", "48 hours")
            .groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("last_ts"))
            .select(
                "user_id",
                F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
                F.col("last_ts").cast("timestamp_ntz").alias("last_ts"),
                "n_events",
            )
        )
        appended = run_available_now_to_memory(sess, spark, output_mode="append").collect()

    # batch truth + the final watermark the drain ended on
    import datetime as dt

    batch = entrymod.queries()["streaming_user_sessions"](spark, SF_SMOKE).collect()
    max_ts = max(r.last_ts for r in batch)
    wm = max_ts - dt.timedelta(hours=48)
    gap = dt.timedelta(minutes=30)

    emitted = {(r.user_id, r.session_start) for r in appended}
    all_sessions = {(r.user_id, r.session_start): r for r in batch}
    assert emitted <= set(all_sessions), "append emitted a session batch never saw"
    closed = {k for k, r in all_sessions.items() if r.last_ts + gap < wm}
    still_open = {k for k, r in all_sessions.items() if r.last_ts + gap > wm}
    assert closed, "test needs some watermark-closed sessions to be meaningful"
    assert still_open, "test needs some open sessions to be meaningful"
    assert closed <= emitted, f"{len(closed - emitted)} closed sessions held back"
    assert not (still_open & emitted), "append leaked sessions the watermark never closed"
    # per-session aggregates match the complete-mode/batch truth
    for r in appended:
        truth = all_sessions[(r.user_id, r.session_start)]
        assert r.n_events == truth.n_events and r.last_ts == truth.last_ts


def test_stream_events_reads_directory_layout(spark, tmp_path):
    """_stream_events must stream a part-file DIRECTORY events.parquet too:
    the old dir+pathGlobFilter shape matched file names only, so any
    Spark-written corpus silently streamed zero rows (r5 probe catch)."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMOKE

    src = entrymod.table(spark, "events", SF_SMOKE).limit(500)
    d = str(tmp_path / "corpus")
    src.repartition(3).write.parquet(f"{d}/events.parquet")
    streamed = entrymod.queries()["streaming_time_series"](spark, d)
    batch = entrymod.queries()["time_series"](spark, d)
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))
    assert streamed.count() > 0


def test_interval_left_join_emits_unmatched_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: a view with no purchase in its window
    emits null-padded once the watermark passes its window; matched views
    emit joined; a view still inside the open tail is withheld."""
    import datetime as dt

    d = tmp_path / "ilj"
    d.mkdir(exist_ok=True)
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # matched view: purchase 5 min later
        (1, 10, "view", t0),
        (1, 11, "purchase", t0 + dt.timedelta(minutes=5)),
        # unmatched view, long before stream end -> closed, emits null
        (2, 20, "view", t0 + dt.timedelta(minutes=1)),
        # clock row: pushes the final watermark far past both windows
        (3, 30, "purchase", t0 + dt.timedelta(hours=6)),
        # unmatched view inside the open tail -> withheld
        (4, 40, "view", t0 + dt.timedelta(hours=6, minutes=-2)),
    ]
    spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "ev"))

    schema = spark.read.parquet(str(d / "ev")).schema
    mk = lambda: spark.readStream.schema(schema).parquet(str(d / "ev"))
    views = mk().filter(F.col("event_type") == "view").select("user_id", "event_id", "ts")
    purch = mk().filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    joined = interval_join_streams(
        views, purch, key_col="user_id", left_ts="ts", right_ts="ts",
        max_delay="30 minutes", watermark="10 minutes", how="left_outer",
    ).select("user_id", F.col("event_id").alias("view_event"),
             F.col("r_event_id").alias("purchase_event"))
    got = {r["view_event"]: r["purchase_event"]
           for r in run_available_now_to_memory(joined, spark).collect()}
    assert got[10] == 11          # matched pair emitted
    assert got[20] is None        # closed unmatched view emitted null-padded
    assert 40 not in got          # open-tail view withheld (verdict not final)


def test_stream_static_enrich_matches_batch_and_broadcasts(spark, tmp_path):
    """Stream-static join: streamed enrichment equals the identical batch
    join, and the static side is a broadcast (no stream shuffle)."""
    d = tmp_path / "sse"
    d.mkdir(exist_ok=True)
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)],
        "event_id long, event_type string, value double",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "ev"))
    dim = spark.createDataFrame(
        [("a", 10.0), ("b", 20.0)], "event_type string, boost double"
    )

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.streaming import (
        stream_static_enrich,
    )

    schema = spark.read.parquet(str(d / "ev")).schema
    stream = spark.readStream.schema(schema).parquet(str(d / "ev"))
    enriched = stream_static_enrich(stream, dim, on="event_type").select(
        "event_id", (F.col("value") + F.col("boost")).alias("v")
    )
    got = sorted(
        (r["event_id"], r["v"])
        for r in run_available_now_to_memory(enriched, spark).collect()
    )
    assert got == [(1, 11.0), (2, 22.0), (3, 13.0)]
    # static side must plan as a broadcast join in the streaming plan
    batch = spark.read.parquet(str(d / "ev"))
    plan = stream_static_enrich(batch, dim, on="event_type")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
