"""Change-data-capture compaction operators (§2.8 extension): building
warehouse-shaped tables from an append-only change log — the lakehouse
MERGE/compaction shapes a 100 TB event-sourced pipeline needs, expressed
without any table-format dependency (pure DataFrame ops over parquet).

Three shapes:

- ``scd2_history``: slowly-changing-dimension type-2 — collapse an
  attribute change log into validity intervals (valid_from, valid_to,
  is_current). The classic dimension-build over CDC streams.
- ``latest_snapshot``: upsert + tombstone compaction — per key, the last
  write wins; if the last write is a delete, the key vanishes. This is
  exactly Kafka log-compaction / CDC MERGE semantics.
- ``snapshot_diff``: derive the changelog two snapshots imply — the
  added / removed / changed classification MERGE pipelines start from
  when no CDC stream exists.

Scale shapes:

- ``scd2_history`` costs ONE shuffle: both windows (the change filter's
  ``lag`` and the interval close's ``lead``) partition and order the same
  way, so Catalyst plans a single Exchange + sort and runs both window
  frames over it; the intermediate filter preserves partitioning. No
  self-join, no driver state. Skewed keys are bounded by per-key history
  length, not corpus size.
- ``latest_snapshot`` is ONE hash aggregation (``max_by`` over a struct
  ordering key) — map-side partial combine reduces every partition to
  |keys-in-partition| rows before the exchange, so shuffle volume is
  O(|keys|), not O(|rows|). This beats the row_number-window phrasing,
  which must shuffle EVERY row to sort it; the window phrasing is what
  the DuckDB oracle uses (same result, different physical plan).

Determinism: ordering keys are (ts, tiebreak) with a caller-supplied
unique tiebreak column, so replays and cross-engine oracles pick the
same row even when timestamps collide.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    attr_col: Column | str,
    tie_col: str,
    attr_name: str = "attr",
) -> DataFrame:
    """SCD2 dimension build: per ``key_col``, collapse consecutive rows
    with an unchanged ``attr_col`` and emit one row per attribute REGIME
    with its validity interval.

    Returns (key, attr, valid_from, valid_to, is_current): ``valid_from``
    is the timestamp of the first row of the regime, ``valid_to`` the
    start of the next regime (NULL while current), ``is_current`` flags
    the open interval.

    Plan: one Exchange on ``key_col``; ``lag`` detects regime starts,
    the post-filter ``lead`` closes intervals — same partitioning and
    ordering, so the second window reuses the first's shuffle (pinned in
    tests/test_plans.py). The filter between them is narrow.

    NULL is a legal regime value: change detection is null-safe
    (``eqNullSafe`` + an explicit first-row flag), so value→NULL,
    NULL→value, and a history STARTING at NULL all open regimes —
    ``lag IS NULL`` alone cannot distinguish "first row" from "previous
    attribute was NULL" and would silently drop those transitions.
    """
    attr = F.col(attr_col) if isinstance(attr_col, str) else attr_col
    w = Window.partitionBy(key_col).orderBy(ts_col, tie_col)
    changes = (
        df.select(
            F.col(key_col),
            F.col(ts_col),
            F.col(tie_col),
            attr.alias(attr_name),
        )
        .withColumn("_prev", F.lag(attr_name).over(w))
        .withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_rn") == 1) | ~F.col(attr_name).eqNullSafe(F.col("_prev"))
        )
    )
    w2 = Window.partitionBy(key_col).orderBy(ts_col, tie_col)
    return (
        changes.select(
            key_col,
            attr_name,
            F.col(ts_col).alias("valid_from"),
            F.lead(ts_col).over(w2).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def latest_snapshot(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tie_col: str,
    delete_predicate: Column,
    value_cols: list[str],
) -> DataFrame:
    """Upsert + tombstone compaction: per ``key_col``, keep the row with
    the greatest (``ts_col``, ``tie_col``); if that surviving row matches
    ``delete_predicate`` the key is a tombstone and is dropped.

    ``delete_predicate`` is evaluated per input row BEFORE the reduction
    and carried on the winner — log-compaction semantics (a later upsert
    resurrects a deleted key; a trailing delete removes it).

    Plan: one hash aggregation — ``max_by(payload, (ts, tie))`` partial-
    combines map-side, so the exchange carries ~|keys| pre-reduced rows.
    No window sort, no self-join.
    """
    payload = F.struct(
        F.col(ts_col).alias(ts_col),
        F.col(tie_col).alias(tie_col),
        delete_predicate.alias("_deleted"),
        *[F.col(c).alias(c) for c in value_cols],
    )
    order_key = F.struct(F.col(ts_col), F.col(tie_col))
    won = df.groupBy(key_col).agg(F.max_by(payload, order_key).alias("w"))
    return (
        won.filter(~F.col("w._deleted"))
        .select(
            key_col,
            F.col(f"w.{ts_col}").alias(ts_col),
            F.col(f"w.{tie_col}").alias(tie_col),
            *[F.col(f"w.{c}").alias(c) for c in value_cols],
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Diff two snapshots of the same table on a key: classify every key
    that differs as added / removed / changed and carry both versions
    of the compared columns — the operator that DERIVES a changelog when
    no CDC stream exists (the inverse of latest_snapshot).

    One full-outer shuffle join on the key (sort-merge at scale — no
    broadcast assumption; snapshots are the SAME table at two times, so
    neither side is small). Change detection is null-safe per column
    (``<=>``), so NULL→value and value→NULL count as changes; unchanged
    rows are dropped before any downstream shuffle — at 100 TB the diff
    is typically ≪ the snapshots, so filtering here keeps everything
    after the join diff-sized.

    Precondition: ``key_cols`` must be non-null on both sides (the
    full-outer join matches keys with PLAIN equality, so a NULL key
    never joins and would classify as both removed and added). Filter
    or repair null keys upstream — a table keyed on a nullable column
    has no well-defined diff identity to begin with.
    """
    o = old.select(
        *key_cols,
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        *key_cols,
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    j = o.join(n, on=key_cols, how="full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    diff_type = (
        F.when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_in_old").isNull(), F.lit("added"))
        .when(~same, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.withColumn("diff_type", diff_type)
        .drop("_in_old", "_in_new")
        .filter(F.col("diff_type") != "unchanged")
    )
