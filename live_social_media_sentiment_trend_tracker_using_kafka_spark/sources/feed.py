"""Feed simulator: the Spark-side twin of the reference's producer process.

The reference producer (producer/kafka_producer.py:74-94) loops forever:
pick a random fixture post, stamp it with the produce-time timestamp
(``datetime.now().strftime("%Y-%m-%d %H:%M:%S")``, line 77), send to Kafka,
sleep 2-8 s. Here the same process is declarative:

- ``rate`` source emits (timestamp, value) rows at a controlled cadence —
  the sleep loop (P15);
- ``assign_fixture_rows`` maps each tick onto a pseudo-random fixture post
  via a hash-modulo broadcast join — the ``random.choice`` (P15);
- ``stamp_produce_time`` adds the produce-time string column — the
  timestamp stamp (P14);
- pipe the result to ``write_kafka`` (or any sink) to complete the producer.

Scale notes: the fixture is a small dim, so Spark broadcasts it by size
and the stream side never shuffles; the rate source partitions ticks
across executors, so the simulator scales to arbitrary rows/sec by adding
partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def stamp_produce_time(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """P14: add the produce-time stamp in the reference's string format
    (kafka_producer.py:77: ``"%Y-%m-%d %H:%M:%S"``)."""
    return df.withColumn(ts_col, F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss"))


def with_index(fixture: DataFrame) -> DataFrame:
    """Number fixture rows 0..n-1 deterministically (first column order).

    A fixture is a small static dim (the reference ships ~tens of mock
    posts), so a single-partition row_number window is fine — this never
    runs over big data.
    """
    order = [F.col(c) for c in fixture.columns]
    w = Window.orderBy(*order)
    return fixture.withColumn("__idx", F.row_number().over(w) - 1)


def assign_fixture_rows(ticks: DataFrame, fixture: DataFrame, seed: int = 42) -> DataFrame:
    """P15 core: map each tick (any DataFrame with a ``value`` long column,
    e.g. the rate source) onto a pseudo-random fixture row.

    ``xxhash64(value, seed) mod n`` is the distributed ``random.choice``:
    deterministic given the tick, uniform across fixture rows, and the
    fixture is a small dim that Spark broadcasts by size — no shuffle on
    the stream side.
    """
    n = fixture.count()
    if n == 0:
        # pmod(x, 0) is NULL, which would silently join-drop every tick —
        # fail loudly like the reference's random.choice([]) would.
        raise ValueError("fixture is empty: the feed would emit no rows")
    indexed = with_index(fixture)
    pick = F.pmod(F.xxhash64(F.col("value"), F.lit(seed)), F.lit(n)).alias("__pick")
    return (
        ticks.select("value", pick)
        .join(indexed, F.col("__pick") == F.col("__idx"))
        .drop("__pick", "__idx", "value")
    )


def feed_simulator(
    spark: SparkSession,
    fixture: DataFrame,
    rows_per_second: int = 1,
    seed: int = 42,
) -> DataFrame:
    """P15: streaming feed of fixture posts at a controlled cadence — the
    reference producer's random-choice loop as a Spark streaming plan.

    Returns a streaming DataFrame of fixture-shaped rows (plus the P14
    ``timestamp`` stamp); pipe into ``write_kafka`` for the full producer,
    or any other sink for tests. The reference's ~0.5 msg/s cadence is
    ``rows_per_second=1`` halved at the sink trigger; any rate works.
    """
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .drop("timestamp")
    )
    return stamp_produce_time(assign_fixture_rows(rate, fixture, seed))
