"""Post-enrichment pipeline — the reference's streaming transform chain
(consumer/spark_streaming_job.py:121-136) as one composable batch/streaming
operator.

Operator parity (SURVEY.md §2.2-2.3):

- P1  null/empty text filter          (:129)
- P2/P3 location struct flatten + drop (:130-132)
- P4  processing_timestamp            (:125)
- P5  cleaned_text = lower(text)      (:133)
- U1  sentiment_score                 (:134) — Catalyst expression
  (the vendored scorer); the pandas UDF only when the real vaderSentiment
  imports
- U2  sentiment_label                 (:135) — pure SQL when/otherwise
- P6  hashtags regexp_extract_all     (:136)
- P14/typed event time: `timestamp` string parsed to TimestampType at ingest
  (upgrade: the reference keeps it a string and re-parses in pandas,
  dashboard/streamlit_app.py:190-196)

Scale notes: every column is a Catalyst expression — one narrow map over
the scan, no shuffle and no Python worker (unless the real vaderSentiment is
installed, which adds one Arrow-batched pandas UDF); at 100 TB this pipeline
is embarrassingly parallel (per-file tasks, no exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sentiment import sentiment_label_col, sentiment_score_col
from ..functions.text import extract_hashtags_col
from ..schema import TIMESTAMP_FMT


def filter_valid_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """P1: drop null/empty-text rows (also drops from_json's all-null rows)."""
    return df.filter(F.col(text_col).isNotNull() & (F.col(text_col) != ""))


def enrich_posts(df: DataFrame, with_sentiment_udf: bool = True) -> DataFrame:
    """Raw typed posts → enriched posts (works on batch and streaming DFs).

    ``with_sentiment_udf=True`` scores each post with
    ``sentiment_score_col``; ``False`` gives every post a zero score (and so
    a neutral label), for callers that replace the score themselves or
    measure the chain without it.
    """
    out = (
        filter_valid_text(df)
        .withColumn("processing_timestamp", F.current_timestamp())
        # try_to_timestamp: under Spark 4's ANSI default, to_timestamp
        # THROWS on one malformed string and kills the whole streaming
        # query; coerce semantics (bad -> null) match the reference's
        # permissive parse (normalize.py documents the same hazard)
        .withColumn("event_ts", F.try_to_timestamp("timestamp", F.lit(TIMESTAMP_FMT)))
        .withColumn("city", F.col("location.city"))
        .withColumn("country", F.col("location.country"))
        .drop("location")
        .withColumn("cleaned_text", F.lower(F.col("text")))
    )
    if with_sentiment_udf:
        out = out.withColumn("sentiment_score", sentiment_score_col(F.col("cleaned_text")))
    else:
        out = out.withColumn("sentiment_score", F.lit(0.0))
    return out.withColumn("sentiment_label", sentiment_label_col(F.col("sentiment_score"))).withColumn(
        "hashtags", extract_hashtags_col(F.col("cleaned_text"))
    )
