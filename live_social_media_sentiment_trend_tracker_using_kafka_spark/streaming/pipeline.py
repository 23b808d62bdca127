"""Streaming pipeline: the reference's transform chain re-expressed as
Structured Streaming with the pieces it left unshipped.

Reference parity (file:line into /root/reference):

- The enrichment chain (consumer/spark_streaming_job.py:121-136) is the SAME
  operator library used in batch (operators/enrich.py) — a streaming DF goes
  through unchanged.
- Console sink: :139-147 (15 s trigger, 5 rows, no truncate).
- File sink: :151-161 (30 s trigger, append, checkpointed). We default to
  parquet (typed, splittable, prunable); JSON-lines kept as an option for
  byte-level fidelity with the reference's output.
- Windowed aggregation: the reference created checkpoint/output dirs for an
  ``aggregated`` stream and then removed the code (:44-47,59-64 plus the
  "SINGLE STREAM ONLY" comment at :151). We ship what that intended:
  watermarked tumbling/sliding-window aggregates — the incremental
  replacement for the dashboard's full-rescan pandas analytics
  (dashboard/streamlit_app.py:70,255).
- Fan-out: the reference starts two queries from one lineage, so the whole
  chain (VADER UDF included) runs twice per micro-batch (SURVEY.md §3.2).
  ``fan_out_sinks`` runs ONE query and hands each micro-batch to all sinks.

Start-and-drain contract — every streaming query in the package starts and
drains here:

- One start helper, ``_start``: the only trigger choice (AvailableNow or a
  processing-time interval) and the only ``.start()``.
- A bounded (AvailableNow) start scopes ``spark.sql.shuffle.partitions`` to
  ``max(defaultParallelism // 4, 8)`` around ``.start()`` only, then
  restores the caller's value; an unbounded start keeps the caller's value.
  The state-store partition count is fixed when a checkpoint is first
  started: a query restarted from an existing checkpoint keeps the count it
  started with, whatever the session says now.
- One foreachBatch rule, ``_each_batch``: a micro-batch is persisted only
  when more than one consumer reads it (``fan_out_sinks`` with two or more
  writers, the upsert sink's dup-guard + write).
- One drain, ``await_drain``: wait, stop, and raise ``TimeoutError`` when a
  bounded query did not finish.

Scale notes: windowed aggregates are incremental — state store holds only
open windows (bounded by the watermark), each micro-batch shuffles only its
own rows on (window, key). The enrichment map is narrow (no exchange). At
100 TB/day the same topology holds; partition count follows
spark.sql.shuffle.partitions, and sinks write partitioned parquet.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..operators.enrich import enrich_posts
from ..session import scoped_conf
from ..sources.readers import decode_json_value, kafka_stream, posts_file_stream

DEFAULT_WATERMARK = "10 minutes"


# --------------------------------------------------------------------------
# Sources → enriched stream
# --------------------------------------------------------------------------

def enriched_file_stream(
    spark: SparkSession,
    path: str,
    with_sentiment_udf: bool = True,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """JSON-lines file source → typed posts → full enrichment chain.

    The deterministic stand-in for the Kafka topology (same downstream
    operators); used by tests with Trigger.AvailableNow.
    """
    raw = posts_file_stream(spark, path, max_files_per_trigger)
    return enrich_posts(raw, with_sentiment_udf=with_sentiment_udf)


def enriched_kafka_stream(
    spark: SparkSession,
    topic: str = "social-media-posts",
    bootstrap_servers: str = "localhost:9092",
    with_sentiment_udf: bool = True,
    **kafka_opts,
) -> DataFrame:
    """Kafka source → JSON decode → full enrichment chain
    (reference topology: consumer/spark_streaming_job.py:110-136)."""
    raw = kafka_stream(spark, topic, bootstrap_servers, **kafka_opts)
    return enrich_posts(decode_json_value(raw), with_sentiment_udf=with_sentiment_udf)


# --------------------------------------------------------------------------
# Watermarked windowed aggregations (the unshipped "aggregated" stream)
# --------------------------------------------------------------------------

def windowed_sentiment_counts(
    enriched: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = DEFAULT_WATERMARK,
    ts_col: str = "event_ts",
) -> DataFrame:
    """Per-window sentiment-label counts (A5 made incremental).

    ``watermark=None`` skips the ``withWatermark`` call — pass None when the
    upstream already set one (e.g. after ``dedup_stream``): Spark disallows
    redefining the watermark in a multi-stateful-operator chain."""
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    wm = enriched if watermark is None else enriched.withWatermark(ts_col, watermark)
    return (
        wm
        .groupBy(win, "sentiment_label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            "sentiment_label",
            "cnt",
        )
    )


def windowed_platform_stats(
    enriched: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = DEFAULT_WATERMARK,
    ts_col: str = "event_ts",
) -> DataFrame:
    """Per-window platform counts + mean engagement (A2/A3/A6 incremental);
    ``watermark=None`` = upstream already watermarked."""
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    wm = enriched if watermark is None else enriched.withWatermark(ts_col, watermark)
    return (
        wm
        .groupBy(win, "platform")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("likes"), 6).alias("avg_likes"),
            F.round(F.avg("retweets"), 6).alias("avg_retweets"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "platform",
            "cnt",
            "avg_likes",
            "avg_retweets",
        )
    )


def windowed_hashtag_counts(
    enriched: DataFrame,
    window: str = "1 minute",
    watermark: str = DEFAULT_WATERMARK,
    ts_col: str = "event_ts",
) -> DataFrame:
    """Per-window hashtag counts (A7 incremental; top-k is a batch read over
    this table — streaming top-k per window would need complete mode, which
    doesn't scale). ``watermark=None`` = upstream already watermarked."""
    wm = enriched if watermark is None else enriched.withWatermark(ts_col, watermark)
    return (
        wm.select(F.col(ts_col), F.explode("hashtags").alias("tag"))
        .groupBy(F.window(ts_col, window), "tag")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("window_start"), "tag", "cnt")
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str = "event_ts",
    right_ts: str = "event_ts",
    max_delay: str = "10 minutes",
    watermark: str = DEFAULT_WATERMARK,
    prefix: str = "r_",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: right rows within ``(left_ts, left_ts +
    max_delay]`` per key (e.g. "purchase within 10 minutes of a view").

    Both sides are watermarked and the join carries an explicit time-range
    constraint — that pair is what lets Spark BOUND the join state: each
    side's buffer holds only rows younger than watermark + max_delay,
    instead of growing forever. Right columns come back ``prefix``-renamed
    so self-joins don't collide. Same operator works in batch (watermark is
    a no-op there) — tests assert streaming == batch.

    ``how="left_outer"`` keeps every left row: matched rows emit as they
    join, and a left row with no match emits null-padded ONCE its join
    window falls behind the watermark (Spark buffers it until then). The
    last ``watermark + max_delay`` of left rows at stream end remain open
    (their no-match verdict isn't final), so an AvailableNow drain emits
    unmatched rows only for the CLOSED region — batch-parity checks must
    clip both sides to it (see q_streaming_view_purchase_left_join).
    """
    r = right.select(
        F.col(key_col).alias(f"{prefix}{key_col}"),
        F.col(right_ts).alias(f"{prefix}{right_ts}"),
        *[
            F.col(c).alias(f"{prefix}{c}")
            for c in right.columns
            if c not in (key_col, right_ts)
        ],
    )
    lw = left.withWatermark(left_ts, watermark)
    rw = r.withWatermark(f"{prefix}{right_ts}", watermark)
    cond = (
        (F.col(key_col) == F.col(f"{prefix}{key_col}"))
        & (F.col(f"{prefix}{right_ts}") > F.col(left_ts))
        & (
            F.col(f"{prefix}{right_ts}")
            <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return lw.join(rw, cond, how).drop(f"{prefix}{key_col}")


# --------------------------------------------------------------------------
# Sinks
# --------------------------------------------------------------------------

def _start(
    writer: DataStreamWriter, trigger: str | None, available_now: bool
) -> StreamingQuery:
    """Start a streaming query — the package's only trigger choice and
    ``.start()``.

    ``available_now`` drains the data present at start and stops;
    otherwise ``trigger`` is a processing-time interval (None: Spark's
    default, the next micro-batch as soon as the previous one ends).

    A bounded start runs with ``spark.sql.shuffle.partitions`` scoped to
    ``max(defaultParallelism // 4, 8)``. Each stateful shuffle partition
    materializes its OWN state-store instance per micro-batch, so for a
    bounded drain the store setup/commit overhead dwarfs the work when
    partitions track CPU count instead of state volume (stream-stream
    interval join at sf0.1: 15.0 s at 32 partitions, 3.2 s at 8). Spark
    copies the session conf into the query (and its checkpoint's offset
    metadata) inside ``.start()``, so the scope covers only that call and
    the caller's value is back as soon as it returns. An unbounded start
    keeps the caller's value."""
    if not available_now:
        return (writer.trigger(processingTime=trigger) if trigger else writer).start()
    spark = writer._spark
    target = str(max(spark.sparkContext.defaultParallelism // 4, 8))
    with scoped_conf(spark, "spark.sql.shuffle.partitions", target):
        return writer.trigger(availableNow=True).start()


def _each_batch(
    consumers: list[Callable[[DataFrame], None]],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function handing every micro-batch to ``consumers`` in
    order. The batch is persisted only when more than one consumer reads
    it: one consumer executes the upstream pipeline once anyway, and the
    persist would only add a cache write and an unpersist per trigger."""
    shared = len(consumers) > 1

    def handle(batch: DataFrame, batch_id: int) -> None:
        if shared:
            batch.persist()
        try:
            for consume in consumers:
                consume(batch)
        finally:
            if shared:
                batch.unpersist()

    return handle


def await_drain(q: StreamingQuery, timeout_sec: float = 300) -> None:
    """Wait for a bounded (AvailableNow) query to finish; a query still
    running after ``timeout_sec`` is stopped and ``TimeoutError`` raised —
    reading its sink after a forced stop would silently hand back a
    partial (or empty) result. A failed query re-raises its error."""
    try:
        finished = q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()
    if not finished:
        raise TimeoutError(
            f"streaming drain {q.name or q.id} did not finish within {timeout_sec}s"
        )


def start_console_sink(
    df: DataFrame,
    trigger: str = "15 seconds",
    num_rows: int = 5,
    output_mode: str = "append",
) -> StreamingQuery:
    """Debug console sink (reference: consumer/spark_streaming_job.py:139-147)."""
    writer = (
        df.writeStream.outputMode(output_mode)
        .format("console")
        .option("numRows", str(num_rows))
        .option("truncate", "false")
    )
    return _start(writer, trigger, available_now=False)


def start_file_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    trigger: str | None = "30 seconds",
    available_now: bool = False,
    output_mode: str = "append",
    partition_by: list[str] | None = None,
) -> StreamingQuery:
    """Checkpointed file sink (reference: consumer/spark_streaming_job.py:151-161).

    Unlike the reference we never rmtree the checkpoint on boot (:42-55 —
    that discards source offsets and breaks exactly-once recovery), and the
    default format is parquet. ``partition_by`` (e.g. event date) gives the
    partition-pruned layout a 100 TB reader needs.
    """
    writer = (
        df.writeStream.outputMode(output_mode)
        .format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return _start(writer, trigger, available_now)


def _start_kafka_sink(df: DataFrame, options: dict[str, str]) -> StreamingQuery:
    """Unbounded Kafka sink for a frame with a JSON ``value`` column — the
    streaming half of ``sources.readers.write_kafka``."""
    writer = df.writeStream.format("kafka").options(**options)
    return _start(writer, None, available_now=False)


def fan_out_sinks(
    df: DataFrame,
    batch_writers: dict[str, Callable[[DataFrame], None]],
    checkpoint: str,
    trigger: str | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """ONE streaming query, many sinks — every writer consumes each
    micro-batch, persisted once when there is more than one writer.

    Fixes the reference's double-evaluation: it starts two queries from one
    lineage so the whole chain (sentiment UDF included) runs once per sink
    (consumer/spark_streaming_job.py:139-161; SURVEY.md §3.2/§4).
    """
    writer = (
        df.writeStream.foreachBatch(_each_batch(list(batch_writers.values())))
        .option("checkpointLocation", checkpoint)
    )
    return _start(writer, trigger, available_now)


def run_available_now_to_memory(
    df: DataFrame,
    spark: SparkSession,
    output_mode: str = "append",
    timeout_sec: float = 300,
) -> DataFrame:
    """Drain a streaming DF deterministically (Trigger.AvailableNow) into an
    in-memory table and return it as a batch DataFrame. Test/driver harness
    utility — processes exactly the data available at start, then stops.
    The table gets a fresh name per call, so drains never collide."""
    name = f"drain_{uuid.uuid4().hex}"
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    await_drain(_start(writer, None, available_now=True), timeout_sec)
    return spark.table(name)


def run_update_sink_to_parquet(
    agg: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    trigger: str | None = None,
    available_now: bool = False,
    keys_proven_unique: bool = False,
) -> StreamingQuery:
    """Update-mode streaming aggregate → parquet, via foreachBatch upsert.

    The deployable shape for a windowed aggregate feeding a file-based
    dashboard: complete-mode memory sinks (fine for tests/oracles) rebuild
    the whole result per trigger and hold it on the driver — neither works
    at scale. Spark's native file sink is append-only, so update mode is
    realized with ``foreachBatch``: each micro-batch delivers only the
    CHANGED keys (bounded by the watermark), and we rewrite exactly the
    key-partitions those rows land in (dynamic partition overwrite) — an
    idempotent upsert, safe under micro-batch replay, without requiring a
    transactional table format.

    ``key_cols`` must be the aggregate's FULL grouping key: overwriting a
    partition keyed by a strict subset would drop that partition's other
    group rows (e.g. key_cols=[window] for a (window, label) agg deletes
    every label but the batch's). By default each batch is guarded: duplicate
    key tuples mean the key is partial, and the query is failed loudly
    instead of silently losing data.

    ``keys_proven_unique=True`` skips the per-batch runtime guard (and with
    it the persist, since the write is then the batch's only consumer).
    Pass it ONLY when key_cols is provably a bijective
    rendering of the aggregate's full grouping key — update mode emits each
    group at most once per micro-batch by construction, so group-key
    bijectivity implies key-tuple uniqueness. The guard + persist are two
    extra driver actions per micro-batch; measured at sf0.1 (r14,
    interleaved drain A/B) they were ~40 % of a 5-batch AvailableNow drain
    (5.67 → 3.37 s min). The default stays guarded: a wrong hint here
    loses data silently, so callers must document the bijectivity argument.
    (No isEmpty() pre-probe: on a foreachBatch frame it re-executes the
    un-persisted state-store pipeline, costing more across the data
    batches than skipping the finalizer trigger's empty write saves.)
    """

    def dup_guard(batch: DataFrame) -> None:
        dup = batch.groupBy(*key_cols).count().filter(F.col("count") > 1)
        if dup.limit(1).count() > 0:  # batch is tiny (aggregated, changed keys only)
            raise ValueError(
                f"key_cols {key_cols} do not uniquely key the aggregate "
                "output — partition overwrite would drop sibling group rows; "
                "pass the aggregate's full grouping key"
            )

    def write(batch: DataFrame) -> None:
        (
            batch.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*key_cols)
            .parquet(path)
        )

    consumers = [write] if keys_proven_unique else [dup_guard, write]
    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(_each_batch(consumers))
        .option("checkpointLocation", checkpoint)
    )
    return _start(writer, trigger, available_now)


def stream_static_enrich(
    stream: DataFrame,
    static_dim: DataFrame,
    on: str | list[str],
) -> DataFrame:
    """Stream-static join: each micro-batch joins against a STATIC batch
    DataFrame (reference data, model thresholds, dimension attributes).
    No watermark is needed — the static side is re-read per batch and
    holds no streaming state. The join carries no hint: a small static
    side broadcasts by size each batch, and a large one shuffles.
    """
    return stream.join(static_dim, on=on, how="inner")
