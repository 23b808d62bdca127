"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference real-time social-media sentiment pipeline
(``Pranjal1713/Live-Social-Media-Sentiment-Trend-Tracker-using-kafka``),
re-expressed Spark-first, plus LLM-data-pipeline extension operators
(dedup, similarity search, text analysis, multimodal columns).

Layout:

- ``session``    — SparkSession factory tuned for AQE / Arrow / local tests
- ``schema``     — canonical typed schemas (posts, testdata tables)
- ``sources``    — batch + streaming readers (parquet, JSON posts, Kafka-gated)
- ``functions``  — scalar/vectorized functions (sentiment, text, vectors)
- ``operators``  — composable DataFrame operators (enrich, analytics,
                   relational, dedup, similarity, multimodal, normalize)
- ``streaming``  — Structured Streaming pipeline (watermarked windowed aggs,
                   checkpointed sinks, foreachBatch fan-out)
- ``plans``      — plan-sized parallelism counts

All operators take and return DataFrames, are usable in both batch and
streaming mode where Spark allows, and are designed to scale: no driver-side
collects in any hot path, join strategy left to AQE, map-side
partial aggregation everywhere, LSH instead of O(n^2) for near-dup /
similarity.
"""

__version__ = "0.1.0"
