"""Batch and streaming sources/sinks.

Covers the reference's source/sink surface (SURVEY.md §2.1 S1-S7) re-expressed
with Spark built-ins:

- S1 Kafka streaming source / S2 Kafka sink  → ``kafka_stream`` / ``write_kafka``
  (gated: the connector jar may be absent locally; tests use the file source)
- S3 JSON value decode                        → ``decode_json_value``
- S5/S6 JSON-lines sink/scan                  → ``read_posts_json`` + parquet sinks
- S7 multiline-JSON fixture scan              → ``read_posts_json(multiline=True)``
- P14/P15 producer stamp + feed simulator     → ``feed`` module
- testdata tables                             → ``table``
"""

from .feed import assign_fixture_rows, feed_simulator, stamp_produce_time
from .readers import (
    decode_json_value,
    kafka_stream,
    posts_file_stream,
    read_posts_json,
    table,
    write_kafka,
)

__all__ = [
    "assign_fixture_rows",
    "feed_simulator",
    "stamp_produce_time",
    "decode_json_value",
    "kafka_stream",
    "posts_file_stream",
    "read_posts_json",
    "table",
    "write_kafka",
]
