"""SparkSession factory.

The reference hardcodes ``local[*]``, Kryo, 4 shuffle partitions in app code
(reference: consumer/spark_streaming_job.py:75-86). We instead centralize
session construction, never hardcode a master in library code, and enable the
optimizer features a 100 TB deployment needs by default:

- AQE (runtime re-planning, partition coalescing, skew-join splitting)
- Arrow for any pandas-UDF boundary
- 32 shuffle partitions, which AQE coalesces to the data's size
- join strategy is Spark's: the broadcast threshold stays at its default,
  no operator hints a join, and AQE turns a shuffle join into a broadcast
  at runtime when one side turns out small
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"


def build_session(
    app_name: str = "live-sentiment-engine",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with scale-ready defaults.

    ``master`` is only set when given explicitly (tests pass ``local[n]``);
    on a real cluster the launcher provides it — the reference's hardcoded
    ``local[*]`` (spark_streaming_job.py:81) silently disabled its own
    compose cluster, a mistake we do not repeat.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        ARROW_CONF: "true",
        # Session-local timezone pinned to UTC so timestamp semantics match
        # the DuckDB oracle regardless of host timezone. (events.ts itself
        # reads as TIMESTAMP_NTZ on Spark >= 4.1 — timezone-free — but other
        # timestamp exprs, e.g. current_timestamp, still honor this.)
        "spark.sql.session.timeZone": "UTC",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set one session conf for the ``with`` body, then restore the
    caller's value — or unset the key if the caller never set it.

    Library code runs on caller-supplied (possibly foreign) sessions and
    must not leak conf changes into them; this is the one way the package
    and the driver entry scope a conf."""
    prior = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def arrow_local_df(spark: SparkSession, columns: dict, schema):
    """Small local DataFrame via the pandas→Arrow path.

    ``spark.createDataFrame(list_of_rows)`` materializes a PICKLED Python
    RDD: every downstream action re-spawns a Python worker per partition
    just to deserialize the rows (measured r13: 0.7-1.6 s/action for a
    48-row table at local[32] — fixed overhead paid by every query that
    touches the frame, e.g. as a broadcast side). Routing the same values
    through a pandas DataFrame takes the Arrow local-relation path: no
    Python tasks at action time. ``columns`` maps column name → sequence
    of values; ``schema`` is the target StructType (or DDL string).

    Arrow is forced on for the conversion: that path only engages when the
    SESSION has Arrow enabled, and a plain session does not. There
    ``createDataFrame(pdf)`` silently falls back to the pickled-RDD path
    (the exact fixed overhead above) and, worse, the fallback's row
    verifier rejects pandas nullable-int NA cells ("IntegerType() can not
    accept object nan") — so the local-table plan (LocalTableScan, no
    Python tasks) is a property of the CODE, not of whoever built the
    session.
    """
    import pandas as pd

    with scoped_conf(spark, ARROW_CONF, "true"):
        return spark.createDataFrame(pd.DataFrame(columns), schema=schema)
