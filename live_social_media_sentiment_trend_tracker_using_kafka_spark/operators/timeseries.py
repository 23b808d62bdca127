"""Hypertable-style time-bucket rollup with gap filling: aggregate into
fixed-width buckets, materialize EMPTY buckets on a generated spine, and
fill value columns by zero / last-observation-carried-forward / linear
interpolation (the timescale ``time_bucket_gapfill`` + ``locf`` +
``interpolate`` family, re-expressed as DataFrame ops).

Scale shape:
- The aggregation is an ordinary hash agg — one shuffle on (series keys,
  bucket), map-side partials first.
- The spine is NOT data-sized: per series it is ``time_range / width``
  rows, built from each series' min/max bucket with ``sequence`` + explode
  — no driver collect, no cross join against the fact table.
- Fill windows partition by the series keys and order by bucket, so state
  is one series' spine per task; without series keys the single window
  still runs over spine-sized (not data-sized) input — bounded, but pass
  ``partition_cols`` for per-key series at scale.

All timestamp arithmetic goes through ``timestampdiff``/``timestampadd``
against a fixed NTZ reference — timezone-free for TIMESTAMP_NTZ columns on
any session (verified under UTC / Asia/Kolkata / America/New_York).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_EPOCH_REF = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"


def bucket_index(ts_col: str, width_seconds: int) -> Column:
    """Integer bucket ordinal of ``ts_col`` (floor(epoch / width))."""
    return F.floor(
        F.expr(f"timestampdiff(SECOND, {_EPOCH_REF}, {ts_col})") / F.lit(width_seconds)
    )


def bucket_start(index_col: str, width_seconds: int) -> Column:
    """Bucket ordinal back to its NTZ start timestamp."""
    return F.expr(
        f"timestampadd(SECOND, CAST({index_col} * {width_seconds} AS BIGINT), {_EPOCH_REF})"
    )


def time_bucket_gapfill(
    df: DataFrame,
    ts_col: str = "ts",
    width_seconds: int = 3600,
    aggs: dict[str, Column] | None = None,
    fill: dict[str, str] | None = None,
    partition_cols: list[str] | None = None,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Bucketed aggregate with a dense bucket spine per series.

    ``aggs``: output name -> aggregate Column (e.g. ``{"n": F.count(F.lit(1))}``).
    ``fill``: output name -> "zero" | "locf" | "linear" | "none" (default
    none = NULL on gaps; counts usually want "zero", gauges "locf" or
    "linear"). Linear interpolation needs a numeric column; leading/trailing
    gaps (no observation on one side) stay NULL unless the other side
    exists, in which case LOCF/NOCB degenerate behavior applies only to
    "locf" — "linear" leaves one-sided gaps NULL.
    Output: partition_cols + bucket (NTZ start) + one column per agg, every
    bucket between each series' first and last observation present.
    """
    if not aggs:
        raise ValueError("aggs must name at least one aggregate")
    fill = fill or {}
    pcols = partition_cols or []
    unknown = set(fill) - set(aggs)
    if unknown:
        raise ValueError(f"fill names not in aggs: {sorted(unknown)}")
    bad = {k: v for k, v in fill.items() if v not in ("zero", "locf", "linear", "none")}
    if bad:
        raise ValueError(f"unknown fill strategies: {bad}")

    base = df.filter(F.col(ts_col).isNotNull()).withColumn(
        "_gf_idx", bucket_index(ts_col, width_seconds)
    )
    agged = base.groupBy(*pcols, "_gf_idx").agg(
        *[a.alias(name) for name, a in aggs.items()]
    )
    spine = (
        base.groupBy(*pcols)
        .agg(F.min("_gf_idx").alias("_lo"), F.max("_gf_idx").alias("_hi"))
        .select(*pcols, F.explode(F.sequence("_lo", "_hi")).alias("_gf_idx"))
    )
    dense = spine.join(agged, [*pcols, "_gf_idx"], "left")

    w = Window.partitionBy(*pcols).orderBy("_gf_idx")
    for name, how in fill.items():
        if how == "zero":
            dense = dense.withColumn(name, F.coalesce(F.col(name), F.lit(0)))
        elif how == "locf":
            dense = dense.withColumn(
                name, F.last(name, ignorenulls=True).over(w)
            )
        elif how == "linear":
            prev_v = F.last(name, ignorenulls=True).over(w)
            prev_i = F.last(
                F.when(F.col(name).isNotNull(), F.col("_gf_idx")), ignorenulls=True
            ).over(w)
            w_next = w.rowsBetween(0, Window.unboundedFollowing)
            next_v = F.first(name, ignorenulls=True).over(w_next)
            next_i = F.first(
                F.when(F.col(name).isNotNull(), F.col("_gf_idx")), ignorenulls=True
            ).over(w_next)
            interp = prev_v + (next_v - prev_v) * (
                (F.col("_gf_idx") - prev_i) / (next_i - prev_i)
            )
            dense = dense.withColumn(
                name,
                F.when(F.col(name).isNotNull(), F.col(name)).otherwise(
                    F.when(prev_i.isNotNull() & next_i.isNotNull(), interp)
                ),
            )

    return dense.select(
        *pcols,
        bucket_start("_gf_idx", width_seconds).alias(bucket_col),
        *aggs.keys(),
    ).orderBy(*pcols, bucket_col)


def with_rolling_stats(
    df: DataFrame,
    value_col: str,
    bucket_col: str = "bucket",
    partition_cols: list[str] | None = None,
    window_buckets: int = 24,
    z_threshold: float = 3.0,
    round_digits: int = 6,
) -> DataFrame:
    """Rolling mean / sample-stddev over the trailing ``window_buckets``
    buckets (current excluded — the anomaly baseline must not contain the
    point it judges) plus a z-score anomaly flag.

    Designed to run on a gap-filled bucket table (time_bucket_gapfill), so
    "trailing N rows" IS "trailing N time buckets". The window partitions
    by the series keys; state per task is one series' frame. Flag is null
    until the baseline has >= 2 points (stddev undefined before that); a
    ZERO-variance baseline (flat series — the canonical pre-spike shape)
    flags any departure from the baseline mean, rather than going null and
    silently missing the spike.
    """
    pcols = partition_cols or []
    w = (
        Window.partitionBy(*pcols)
        .orderBy(bucket_col)
        .rowsBetween(-window_buckets, -1)
    )
    mean = F.avg(value_col).over(w)
    sd = F.stddev_samp(value_col).over(w)
    z = (F.col(value_col) - mean) / sd
    return df.select(
        *pcols,
        bucket_col,
        value_col,
        F.round(mean, round_digits).alias("rolling_mean"),
        F.round(sd, round_digits).alias("rolling_std"),
        F.when(sd > 0, F.abs(z) > F.lit(z_threshold))
        .when(sd == 0, F.col(value_col) != mean)
        .alias("is_anomaly"),
    )


def value_trend_slope(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    group_col: str = "event_type",
    x0: str = "2024-01-01",
    round_digits: int = 6,
) -> DataFrame:
    """Per-group linear trend of the DAILY MEAN value over time: ordinary
    least-squares slope/intercept of (epoch-day, daily avg) — the "is this
    metric drifting up or down" statistic a trend tracker reports per
    series (the reference's dashboard eyeballs this from its line chart;
    this computes it: consumer/spark_streaming_job.py feeds the same
    per-tick series the dashboard plots at dashboard/streamlit_app.py).

    The slope is computed with the closed-form sums
    ``(n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)`` rather than ``F.regr_slope`` so an
    oracle engine running the IDENTICAL formula agrees to 6 dp — built-in
    regression aggregates are free to use different (e.g. single-pass
    centered) accumulation algorithms with different last-bit rounding. A
    unit test pins the closed form against Spark's ``regr_slope`` to 1e-9,
    so the formula is still "real" OLS. x is the tz-free day offset from
    ``x0`` (date-cast, wall-clock pure on any session timezone); anchoring
    x NEAR the data instead of at the 1970 epoch keeps the closed form
    well-conditioned — an epoch-day x extrapolates the intercept ~19,800
    days back, amplifying last-bit slope noise by |Sx| past the 6-dp
    rounding gate (and hurting real precision the same way at 100 TB). The
    intercept is therefore the fitted value AT ``x0``.

    Scale shape: two map-side-combinable hash aggs — corpus rows reduce to
    (group, day) partials in pass one, then to one row per group; nothing
    is ever windowed or collected, and the second agg's input is
    |groups| * |days| rows regardless of raw event count.
    """
    x = F.datediff(F.col(ts_col).cast("date"), F.to_date(F.lit(x0))).cast("double")
    daily = (
        df.groupBy(F.col(group_col).alias("grp"), x.alias("x"))
        .agg(F.avg(value_col).alias("y"))
    )
    n = F.count(F.lit(1)).cast("double")
    sums = daily.groupBy("grp").agg(
        n.alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        sums.select(
            F.col("grp").alias(group_col),
            F.col("n").cast("long").alias("n_days"),
            F.round(slope, round_digits).alias("trend_slope"),
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), round_digits).alias(
                "trend_intercept"
            ),
        )
        .orderBy(group_col)
    )


def interarrival_stats(events: DataFrame, round_digits: int = 4) -> DataFrame:
    """Inter-arrival-time profile per event type: for every event with a
    predecessor from the SAME user (any type), the gap in seconds back to
    that predecessor, aggregated by the arriving event's type — mean gap,
    population stddev, and the burstiness coefficient of variation
    (cv = std/mean; ~1 is Poisson-like, >> 1 is bursty — the bot/incident
    screen next to key_skew_audit).

    Returns (event_type, n_gaps, mean_gap_s, stddev_gap_s, burstiness_cv)
    ordered by event_type.

    Cross-engine determinism: the per-row gap is timestampdiff(MICROSECOND)
    on NTZ timestamps — an exact integer, wall-clock pure (no session-tz
    cast); gap seconds and their squares accumulate DECIMAL casts of the
    per-row doubles (the zipf_alpha house pattern — exact,
    order-independent sums), then mean/var/cv run in doubles on identical
    inputs. At extreme scale the DECIMAL(30,6) square-sum is the bound to
    watch (~1e12 rows of day-long gaps approach it) — switch the unit to
    hours or widen to DECIMAL(38,6) there.

    Scale shape: ONE corpus shuffle (user_id lag window — same exchange
    shape as event_transitions), then one map-side-combinable hash agg to
    |types| rows. No joins, nothing collected.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) over "
        "(partition by user_id order by ts, event_id), ts)"
    )
    gaps = events.select(
        F.col("event_type"), (gap_us / F.lit(1e6)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    sums = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("gap_s").cast("decimal(24,6)")).cast("double").alias("_s"),
        F.sum((F.col("gap_s") * F.col("gap_s")).cast("decimal(30,6)"))
        .cast("double")
        .alias("_s2"),
    )
    mean = F.col("_s") / F.col("n_gaps")
    var = F.col("_s2") / F.col("n_gaps") - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    return sums.select(
        "event_type",
        "n_gaps",
        F.round(mean, round_digits).alias("mean_gap_s"),
        F.round(std, round_digits).alias("stddev_gap_s"),
        F.round(std / mean, round_digits).alias("burstiness_cv"),
    ).orderBy("event_type")


def weekly_revenue_growth(lineitem: DataFrame, round_digits: int = 6) -> DataFrame:
    """Week-over-week revenue trend: per ISO week (Monday start), the
    discounted revenue and its relative change vs the previous week — the
    growth panel behind "is this quarter accelerating?" (value_trend_slope
    fits one line; this reports the raw week series with deltas).

    Returns (week_start, revenue, pct_change) ordered by week;
    ``pct_change`` is NULL for the first week.

    Timezone note: the week start is pure DATE arithmetic on the NTZ ship
    date — ``date_sub(day, (dayofweek(day) + 5) % 7)`` lands on Monday
    exactly like DuckDB's date_trunc('week') — because Spark's own
    ``date_trunc('week', ntz)`` returns a session-tz TIMESTAMP (the
    documented pitfall every day-bucket operator here avoids).

    Cross-engine determinism: revenue accumulates DECIMAL(18,6) per-row
    products (exact, order-independent — the returned_items pattern) and
    rounds to 2 dp BEFORE the ratio, so both engines difference identical
    doubles. Scale shape: one map-side-combinable hash agg to |weeks|
    rows; the lag window orders that tiny series only.
    """
    day = F.to_date("l_shipdate")
    week = F.date_sub(day, (F.dayofweek(day) + F.lit(5)) % 7)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    weekly = (
        lineitem.select(week.alias("wk"), rev.alias("rev"))
        .groupBy("wk")
        .agg(F.round(F.sum("rev"), 2).cast("double").alias("revenue"))
    )
    w = Window.orderBy("wk")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        F.col("wk").cast("timestamp_ntz").alias("week_start"),
        "revenue",
        F.round((F.col("revenue") - prev) / prev, round_digits).alias(
            "pct_change"
        ),
    ).orderBy("week_start")


def seasonality_index(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    round_digits: int = 6,
) -> DataFrame:
    """Day-of-week seasonality index per series: each weekday's average
    daily event count divided by the series' overall daily average — the
    multiplicative seasonal factor a forecasting pipeline divides out
    before fitting trend (index > 1 = above-baseline weekday).

    Returns (event_type, dow, n_days, avg_daily, seasonal_index) with dow
    1..7 (ISO, Monday=1), ordered by (event_type, dow).

    Timezone note: the day bucket is the NTZ date double-cast (the _day
    pattern) and dayofweek derives from that date — pure calendar
    arithmetic, session-tz-free.

    Scale shape: ONE map-side-combinable (type, day) hash agg over the
    scan; everything after operates on |types|·|days| rows (the per-dow
    re-agg and the 1-row-per-type baseline join are day-table-sized).
    Cross-engine determinism: daily counts are exact integers; both
    ratios are integer-derived doubles rounded once.
    """
    from ..caching import tracked_persist

    day = F.col(ts_col).cast("date")
    daily = tracked_persist(
        events.select(F.col(key_col), day.alias("day"))
        .groupBy(key_col, "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # ISO weekday from pure DATE arithmetic: weekday(date) in both engines
    per_dow = daily.groupBy(
        key_col, F.weekday("day").alias("dow0")
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").cast("long").alias("total"),
    )
    base = daily.groupBy(key_col).agg(
        F.sum("n").cast("long").alias("g_total"),
        F.count(F.lit(1)).alias("g_days"),
    )
    return (
        per_dow.join(base, key_col)
        .select(
            key_col,
            (F.col("dow0") + 1).cast("int").alias("dow"),
            "n_days",
            F.round(F.col("total") / F.col("n_days").cast("double"), round_digits).alias(
                "avg_daily"
            ),
            F.round(
                (F.col("total") / F.col("n_days").cast("double"))
                / (F.col("g_total") / F.col("g_days").cast("double")),
                round_digits,
            ).alias("seasonal_index"),
        )
        .orderBy(key_col, "dow")
    )


def cusum_changepoints(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    round_digits: int = 6,
) -> DataFrame:
    """CUSUM changepoint screen per series: the day where the cumulative
    deviation of daily counts from the series mean peaks in magnitude —
    the classic "did the level shift, and when" monitor (a pure ramp has
    its |CUSUM| max in the middle; a level shift pins it at the shift).

    Returns (event_type, change_day, max_abs_cusum, mean_daily, n_days),
    one row per series, ordered by event_type.

    Cross-engine determinism: CUSUM_k = Σ_{i<=k} n_i − k·mean, computed
    as (running_int − k·g_total/g_days) with the integer running sum and
    integer k·g_total cross-multiplied over g_days — the argmax ranks on
    |cusum·g_days| = |running·g_days − k·g_total|, an EXACT integer, with
    a day tiebreak; no float enters the ordering.

    Scale shape: one (type, day) hash agg; the cumsum window partitions
    by series over the |types|·|days| day-table (day-table-sized state,
    NOT corpus-sized); the argmax is a 1-row-per-series
    TakeOrdered-style window filter.
    """
    from ..caching import tracked_persist

    day = F.col(ts_col).cast("date")
    daily = tracked_persist(
        events.select(F.col(key_col), day.alias("day"))
        .groupBy(key_col, "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    base = daily.groupBy(key_col).agg(
        F.sum("n").cast("long").alias("g_total"),
        F.count(F.lit(1)).alias("g_days"),
    )
    w = Window.partitionBy(key_col).orderBy("day")
    scored = (
        daily.withColumn("running", F.sum("n").over(w).cast("long"))
        .withColumn("k", F.row_number().over(w).cast("long"))
        .join(base, key_col)
        .withColumn(
            "dev_int",
            F.abs(F.col("running") * F.col("g_days") - F.col("k") * F.col("g_total")),
        )
    )
    pick = Window.partitionBy(key_col).orderBy(F.desc("dev_int"), F.asc("day"))
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            key_col,
            F.col("day").cast("timestamp_ntz").alias("change_day"),
            F.round(
                F.col("dev_int") / F.col("g_days").cast("double"), round_digits
            ).alias("max_abs_cusum"),
            F.round(
                F.col("g_total") / F.col("g_days").cast("double"), round_digits
            ).alias("mean_daily"),
            F.col("g_days").alias("n_days"),
        )
        .orderBy(key_col)
    )
