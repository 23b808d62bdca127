"""Custom stateful streaming operators (SURVEY.md §2.6 ⊘-row upgrades).

The reference has no stateful streaming at all; these are the stateful
primitives a production feed pipeline needs:

- ``dedup_stream``: exactly-once-per-key emission with bounded state —
  Spark's native ``dropDuplicatesWithinWatermark`` (state is evicted once
  the watermark passes, so it scales to unbounded streams; a plain
  ``dropDuplicates`` on a stream would grow state forever).
- ``running_user_value_stats``: arbitrary per-key state via
  ``applyInPandasWithState`` — the escape hatch for stateful logic the
  built-in operators can't express (here: a cumulative per-user event
  counter + running value sum that emits an updated row per key per
  micro-batch).

Scale notes: both shuffle once on the key and keep per-key state in the
state store (RocksDB-backed on a real cluster); the watermark bounds the
dedup store. The pandas state function receives Arrow batches per key —
no per-row Python overhead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "event_ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drop duplicate keys arriving within the watermark horizon.

    State for a key is dropped once the watermark passes its event time —
    bounded memory on an unbounded stream (the semantics LLM-feed ingestion
    wants: replays/retries deduped, ancient re-sends accepted as new)."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


RUNNING_VALUE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), False),
    ]
)

_VALUE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), False),
    ]
)


def running_user_value_stats(events: DataFrame) -> DataFrame:
    """Cumulative per-user event count + value sum over the generic events
    stream — the ``applyInPandasWithState`` escape hatch exercised on the
    events testdata. One updated row per key per micro-batch; under a single
    AvailableNow batch the output equals the batch aggregate, which is what
    lets the driver hash-check the custom-stateful API end to end."""

    def update(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_VALUE_SCHEMA,
        stateStructType=_VALUE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
