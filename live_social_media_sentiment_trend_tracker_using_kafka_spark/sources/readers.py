"""Source readers and sinks.

Parity notes (file:line into /root/reference):

- Kafka source options mirror consumer/spark_streaming_job.py:110-118
  (subscribe, startingOffsets, failOnDataLoss, maxOffsetsPerTrigger).
- JSON value decode mirrors :121-124 (cast value → from_json → flatten).
- Batch JSON-lines scan replaces dashboard/streamlit_app.py:83-155's manual
  glob/parse loop with Spark's native (distributed, permissive) JSON reader.

Scale notes: testdata tables are plain parquet scans — Catalyst pushes filters
and prunes columns into the scan automatically; nothing here collects to the
driver. For a 100 TB deployment the same ``table()`` call works on a
partitioned table path; partition pruning is free once the layout is
date/key-partitioned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import POST_SCHEMA

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_nanos_conf(spark: SparkSession) -> None:
    """Legacy-Spark escape hatch for parquet TIMESTAMP(NANOS) columns.

    Spark >= 4.1 reads TIMESTAMP(NANOS) natively as TIMESTAMP_NTZ (micros
    truncation) and *ignores* this conf. Spark 3.x refuses the type unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set, which scans it as a
    bigint of epoch-nanos. Called only from the read-failure fallback so we
    never mutate a caller-owned session's conf unnecessarily.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize any ``ts`` column to microsecond TIMESTAMP_NTZ.

    Spark >= 4.1 already delivers TIMESTAMP_NTZ for parquet TIMESTAMP(NANOS)
    (no-op here). On legacy Sparks reading via ``nanosAsLong`` the column
    arrives as epoch-nano bigint: truncate with integer ``div`` (no double
    round-trip) — the same nanos→micros truncation DuckDB applies — then
    build the NTZ value with TZ-FREE arithmetic: NTZ epoch + exact decimal
    day-time interval. (The earlier ``timestamp_micros(...).cast(ntz)``
    detour renders through the session timezone, and this fallback exists
    precisely for foreign sessions whose tz is uncontrolled — a non-UTC
    session shifted every value by its zone offset.)
    """
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.typeName() == "long":
            df = df.withColumn(
                "ts",
                F.expr(
                    "cast('1970-01-01 00:00:00' as timestamp_ntz)"
                    " + make_dt_interval(0, 0, 0,"
                    " cast(ts div 1000 as decimal(26,6)) / 1000000)"
                ),
            )
    return df


def table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one driver testdata table as a DataFrame (parquet scan).

    Works on ANY session, including harness-supplied ones: if a legacy Spark
    refuses TIMESTAMP(NANOS) (``PARQUET_TYPE_ILLEGAL``), retry with the
    nanosAsLong conf and normalize back to TIMESTAMP_NTZ.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        df = spark.read.parquet(path)
    except Exception as exc:  # AnalysisException on legacy Sparks
        if "PARQUET_TYPE_ILLEGAL" not in str(exc):
            raise
        ensure_nanos_conf(spark)
        df = spark.read.parquet(path)
    return normalize_ts(df)


def read_posts_json(spark: SparkSession, path: str, multiline: bool = False) -> DataFrame:
    """Batch scan of JSON post files with the canonical typed schema.

    Replaces the reference dashboard's manual glob + per-line json.loads +
    whole-file fallback (dashboard/streamlit_app.py:83-155): Spark's JSON
    reader is already line-oriented, permissive (bad line → null row), and
    distributed.

    ``multiline=True`` reads whole-file JSON arrays — the reference
    producer's fixture format (producer/kafka_producer.py:44-46 does a
    ``json.load`` of one multi-document array file). Note multiline files
    are not splittable (one task per file); fine for small fixtures, use
    JSON-lines for big data.
    """
    reader = spark.read.schema(POST_SCHEMA)
    if multiline:
        reader = reader.option("multiLine", True)
    return reader.json(path)


def posts_file_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """Streaming file source over JSON-lines post files.

    The deterministic test-friendly stand-in for the Kafka source: same typed
    schema, same downstream operators. ``maxFilesPerTrigger`` is the
    *correct* placement of the option the reference mistakenly put on its
    sink (consumer/spark_streaming_job.py:158 — inert there).
    """
    return (
        spark.readStream.schema(POST_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def kafka_source_options(
    topic: str = "social-media-posts",
    bootstrap_servers: str = "localhost:9092",
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = 100,
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """The exact option dict handed to the Kafka source — factored out so the
    passthrough contract is unit-testable without a broker or the
    spark-sql-kafka jar (reference: consumer/spark_streaming_job.py:110-118).
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_stream(
    spark: SparkSession,
    topic: str = "social-media-posts",
    bootstrap_servers: str = "localhost:9092",
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = 100,
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """Kafka streaming source (reference: consumer/spark_streaming_job.py:110-118).

    Requires the spark-sql-kafka connector on the classpath; the local test
    container does not ship it, so tests use ``posts_file_stream`` — the
    downstream operator chain is identical either way — and pin the option
    dict via ``kafka_source_options``.
    """
    opts = kafka_source_options(
        topic, bootstrap_servers, starting_offsets, max_offsets_per_trigger, fail_on_data_loss
    )
    return spark.readStream.format("kafka").options(**opts).load()


def decode_json_value(kafka_df: DataFrame) -> DataFrame:
    """Kafka record → typed post rows (reference: spark_streaming_job.py:121-124).

    ``from_json`` is permissive: a malformed payload yields an all-null row,
    which the downstream text filter drops — same net semantics as the
    reference.
    """
    return (
        kafka_df.select(F.col("value").cast("string").alias("json_string"))
        .select(F.from_json("json_string", POST_SCHEMA).alias("data"))
        .select("data.*")
    )


def kafka_sink_options(
    topic: str,
    bootstrap_servers: str = "localhost:9092",
    checkpoint: str | None = None,
) -> dict[str, str]:
    """Option dict for the Kafka sink — unit-testable passthrough contract
    (reference: producer/kafka_producer.py:82-87)."""
    opts = {"kafka.bootstrap.servers": bootstrap_servers, "topic": topic}
    if checkpoint:
        opts["checkpointLocation"] = checkpoint
    return opts


def write_kafka(
    df: DataFrame,
    topic: str,
    bootstrap_servers: str = "localhost:9092",
    checkpoint: str | None = None,
):
    """Kafka sink: serialize all columns to a JSON ``value`` (the Spark-side
    equivalent of the reference producer's json.dumps serializer,
    producer/kafka_producer.py:14-15,82). A streaming frame starts its
    query through the streaming layer's one start path."""
    out = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    if out.isStreaming:
        # lazy: streaming.pipeline imports this module
        from ..streaming.pipeline import _start_kafka_sink

        return _start_kafka_sink(
            out, kafka_sink_options(topic, bootstrap_servers, checkpoint)
        )
    return (
        out.write.format("kafka")
        .options(**kafka_sink_options(topic, bootstrap_servers))
        .save()
    )
