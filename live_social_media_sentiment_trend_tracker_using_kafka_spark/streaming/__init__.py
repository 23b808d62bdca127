"""Structured Streaming layer: sources → enrichment → windowed aggregation →
checkpointed sinks, plus monitoring/shutdown."""

from .pipeline import (
    await_drain,
    enriched_file_stream,
    enriched_kafka_stream,
    fan_out_sinks,
    interval_join_streams,
    run_available_now_to_memory,
    run_update_sink_to_parquet,
    start_console_sink,
    start_file_sink,
    windowed_hashtag_counts,
    windowed_platform_stats,
    stream_static_enrich,
    windowed_sentiment_counts,
)
from .monitor import monitor_streams, stop_all_streams
from .stateful import dedup_stream

__all__ = [
    "await_drain",
    "dedup_stream",
    "enriched_file_stream",
    "enriched_kafka_stream",
    "fan_out_sinks",
    "interval_join_streams",
    "run_available_now_to_memory",
    "run_update_sink_to_parquet",
    "start_console_sink",
    "start_file_sink",
    "windowed_hashtag_counts",
    "windowed_platform_stats",
    "stream_static_enrich",
    "windowed_sentiment_counts",
    "monitor_streams",
    "stop_all_streams",
]
