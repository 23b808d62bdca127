"""Sessionization + event-stream shapes over the ``events`` table:
gap-based sessions, daily distinct users, event-type pivot.

Sessionization uses Spark's native ``session_window`` (batch AND streaming —
the same call works under a watermark in Structured Streaming). Session
semantics: a session extends while the next event arrives strictly within
``gap`` of the previous event; ``window.start`` is the first event's
timestamp. The DuckDB oracle reproduces exactly this with
lag + gap-threshold + cumulative-sum (see __spark_entry__.oracle_sql).

Scale notes: ``session_window`` groups shuffle on (user_id) and merge
per-key sorted runs — state is bounded per key, no global sort. The pivot
uses an explicit value list (click/error/purchase/signup/view) so Spark
skips the extra distinct-values job and the output schema is static.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _day(ts_col: str = "ts") -> F.Column:
    """Day-truncate in the timezone-free domain.

    ``F.date_trunc`` returns session-tz TIMESTAMP even for NTZ input — on a
    harness session whose tz isn't UTC that shifts every bucket (observed
    +05:30 under TZ=Asia/Kolkata). date→NTZ double cast stays wall-clock
    pure on any session.
    """
    return F.col(ts_col).cast("date").cast("timestamp_ntz")


def user_day_activity(events: DataFrame) -> DataFrame:
    """Canonical deduped (user_id, day) activity table — THE corpus-sized
    shuffle of the event-analytics tier, persisted and shared: cohort
    retention and rolling-active-users construct this identical plan, so
    within a session the dedup runs once and later consumers hit the cache
    (the shingle_table pattern; ``tracked_persist_shared`` dedups the
    handle)."""
    from ..caching import tracked_persist_shared

    return tracked_persist_shared(
        events.select("user_id", _day().alias("day")).distinct()
    )


def user_sessions(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based sessions per user: start, event count, summed value."""
    return (
        events.groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_ts"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "last_ts",
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start")
    )


def session_stats(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Aggregate session statistics: sessions per user distribution."""
    s = user_sessions(events, gap)
    return (
        s.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
        )
        .groupBy("n_sessions")
        .agg(F.count(F.lit(1)).alias("n_users"), F.sum("total_events").alias("events"))
        .orderBy("n_sessions")
    )


def daily_distinct_users(events: DataFrame) -> DataFrame:
    """Exact per-day distinct users + event count.

    count(distinct) expands to a two-phase aggregate (partial distinct per
    partition, then merge) — no driver collection."""
    return (
        events.groupBy(_day().alias("day"))
        .agg(
            F.countDistinct("user_id").alias("distinct_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("day")
    )


def approx_daily_distinct_users(events: DataFrame, rsd: float = 0.05) -> DataFrame:
    """HyperLogLog++ variant of ``daily_distinct_users`` — the 100 TB path
    (single-pass, fixed-size sketch per group, no distinct expansion).
    Rows-only check: approximate by construction."""
    return (
        events.groupBy(_day().alias("day"))
        .agg(F.approx_count_distinct("user_id", rsd).alias("approx_users"))
        .orderBy("day")
    )


def event_type_pivot(events: DataFrame) -> DataFrame:
    """Per-day event counts pivoted to one column per event type."""
    return (
        events.groupBy(_day().alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
        .orderBy("day")
    )


def funnel_conversion(events: DataFrame) -> DataFrame:
    """Ordered three-stage funnel (view → click → purchase): how many users
    reach each stage, where a stage counts only if it happens STRICTLY
    after the user's entry into the previous one (the product-analytics
    funnel, not three independent counts).

    One exchange total: events shuffle once on ``user_id``; the three
    stage-entry timestamps are computed as sequential window minimums over
    the SAME partitioning (fc conditions on fv, fp on fc — Catalyst plans
    the three Window nodes over a single sort/exchange), and the per-user
    reduction reuses that partitioning, so no second shuffle of the event
    table. The result is 3 rows regardless of input size.

    Output: (stage_order, stage, users, conv_from_prev) — conv is null for
    the first stage.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    staged = (
        events.withColumn(
            "fv", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "fc",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("fv")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "fp",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("fc")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.first("fv").alias("fv"), F.first("fc").alias("fc"), F.first("fp").alias("fp")
    )
    totals = per_user.agg(
        F.count("fv").alias("n_view"),
        F.count("fc").alias("n_click"),
        F.count("fp").alias("n_purchase"),
    )
    return (
        totals.select(
            F.expr(
                "stack(3, 1, 'view', n_view, cast(null as bigint),"
                " 2, 'click_after_view', n_click, n_view,"
                " 3, 'purchase_after_click', n_purchase, n_click)"
                " as (stage_order, stage, users, prev)"
            )
        )
        .select(
            "stage_order",
            "stage",
            "users",
            F.round(F.col("users") / F.nullif(F.col("prev"), F.lit(0)), 6).alias(
                "conv_from_prev"
            ),
        )
        .orderBy("stage_order")
    )


def cohort_retention(events: DataFrame, max_offset: int = 14) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day, then
    for each (cohort_day, day_offset ≤ ``max_offset``) the count of cohort
    members active that many days later.

    ONE corpus-sized shuffle at any scale — the user-day dedup; it is
    persisted (tracked, trim-bounded) because both the first-day
    aggregation and the retention join consume it, and everything
    downstream (the user_id exchanges for that agg and join, the final
    (cohort, offset) aggregation) moves only user-day-sized tables,
    never the raw event count.

    A power user with many same-day events does not funnel its raw rows
    through one dedup reducer: the partial aggregate under the distinct
    sends at most one row per (user, day) per map task, so the dedup needs
    no salting.
    """
    activity = user_day_activity(events)
    first_day = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        activity.join(first_day, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .filter(F.col("day_offset") <= max_offset)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


def rfm_segments(events: DataFrame) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation of users,
    rolled up to segment level.

    The corpus-wide per-user reduction runs ONCE — it feeds four
    consumers (the reference-day max, the three percentile fits, and the
    scoring pass), so it is persisted (tracked, trim-bounded; the same
    two-consumer pattern as dedup.shingle_table). The quartile boundaries
    come from ONE single-row exact-percentile aggregate that cross-joins
    back in as a broadcast — scores are then pure per-row comparisons over
    the user-sized cached table, so there is NO global sort /
    single-partition ntile anywhere (the classic RFM recipe's ntile(4)
    would move every user to one task at scale). Integer-valued metrics
    (days, counts, whole cents) keep the interpolated quartile boundaries
    and the comparisons bit-identical across engines.

    Scores are 1–4, higher = better (recent, frequent, high-spend). Output:
    (r_score, f_score, m_score, n_users, avg_monetary) ordered by scores.
    """
    from ..caching import tracked_persist_shared

    per_user = tracked_persist_shared(
        events.groupBy("user_id").agg(
            F.max(_day()).alias("last_day"),
            F.count(F.lit(1)).alias("freq"),
            F.round(F.sum("value") * 100).cast("bigint").alias("cents"),
        )
    )
    ref = per_user.agg(F.max("last_day").alias("ref_day"))
    metrics = per_user.join(ref).select(
        "user_id",
        F.datediff(F.col("ref_day"), F.col("last_day")).alias("rec"),
        "freq",
        "cents",
    )
    # quartiles via the distributed counts reconstruction — Spark's exact
    # percentile() buffers all |users| values per column on one reducer
    # (cents is effectively continuous; r11-measured superlinear cliff);
    # bit-identical values, three 1-row frames cross-joined
    from .sampling import exact_percentiles

    quartiles = [0.25, 0.5, 0.75]
    q = (
        exact_percentiles(metrics, [], "rec", quartiles, out_col="qr")
        .crossJoin(exact_percentiles(metrics, [], "freq", quartiles, out_col="qf"))
        .crossJoin(exact_percentiles(metrics, [], "cents", quartiles, out_col="qm"))
    )

    def points(col, bounds):
        return sum(
            (F.col(col) > F.element_at(F.col(bounds), i + 1)).cast("int")
            for i in range(3)
        )

    scored = metrics.join(q).select(
        "cents",
        (F.lit(4) - points("rec", "qr")).alias("r_score"),
        (F.lit(1) + points("freq", "qf")).alias("f_score"),
        (F.lit(1) + points("cents", "qm")).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            # round the AVG of exact integer cents to a whole cent BEFORE
            # the /100: sum(bigint)/n is bit-identical across engines, so
            # the .5 ties round the same way everywhere — rounding dollars
            # to 2 dp instead sits on .005 knife edges and flipped a
            # segment between Spark and DuckDB at sf0.01
            (F.round(F.avg("cents")) / 100.0).alias("avg_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


def rolling_active_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Trailing-window active users (the DAU/WAU family): for every day in
    the observed range, how many distinct users were active in the
    ``window_days``-day window ending that day. Zero-active days (possible
    only in a gap longer than the window) are omitted.

    COUNT(DISTINCT) over a sliding RANGE frame is unsupported in Spark and
    ruinous where supported (per-frame state). This computes the same thing
    with bounded shuffles instead:

    1. user-day dedup — the one corpus-sized shuffle, via the SHARED
       :func:`user_day_activity` table (same plan as cohort_retention, so
       a session computes it once);
    2. per user, ``lag(day)`` — re-shuffles only user-day rows on user_id;
    3. each user-day explodes into the ≤ ``window_days`` target days for
       which it is that user's FIRST activity inside the trailing window
       (d in [max(day, prev_day + w), day + w - 1], clamped to the corpus
       max day) — so each (user, target-day) pair appears exactly once, no
       post-explode dedup;
    4. one count per target day — plain map-side-combinable agg.

    Peak data volume is user-days × window_days, independent of raw event
    count. The corpus max day comes from the deduped table (not a second
    event scan) and joins in as a broadcast single row.
    """
    from pyspark.sql import Window

    w = window_days
    user_days = user_day_activity(events).select(
        "user_id", F.col("day").cast("date").alias("day")
    )
    prev = F.lag("day").over(Window.partitionBy("user_id").orderBy("day"))
    spans = user_days.select(
        "user_id",
        F.col("day"),
        F.greatest(
            F.col("day"), F.date_add(F.coalesce(prev, F.date_sub(F.col("day"), w)), w)
        ).alias("lo"),
        F.date_add(F.col("day"), w - 1).alias("hi"),
    )
    max_day = user_days.agg(F.max("day").alias("max_day"))
    # Guard lo > hi: F.sequence would generate a DESCENDING run (phantom
    # future days) — when the span lies entirely past the corpus max day
    # the row must vanish (explode drops the null array).
    hi = F.least(F.col("hi"), F.col("max_day"))
    return (
        spans.join(max_day)
        .select(
            F.explode(
                F.when(F.col("lo") <= hi, F.sequence(F.col("lo"), hi))
            ).alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .select(F.col("day").cast("timestamp_ntz").alias("day"), "active_users")
        .orderBy("day")
    )


def last_touch_attribution(events: DataFrame) -> DataFrame:
    """Last-touch purchase attribution: each purchase is credited to the
    user's most recent preceding non-purchase event type ('none' when the
    purchase is the user's first touch). Output: per attributed type, the
    purchase count and its share of all purchases.

    One window pass per user — ``last(..., ignorenulls=True)`` over
    (user_id, ts, event_id) with the default unbounded-preceding frame; the
    (ts, event_id) order key makes same-timestamp ties deterministic so the
    result is hash-stable across engines. The share denominator is the
    ≤ |event_types| aggregated rows' own sum — computed with a window over
    the tiny aggregate, never over event-scale data.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    src = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    counts = (
        events.withColumn("src", src)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("src", F.lit("none")).alias("attributed_type"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return counts.select(
        "attributed_type",
        "n_purchases",
        F.round(
            F.col("n_purchases") / F.sum("n_purchases").over(Window.partitionBy()), 6
        ).alias("share"),
    ).orderBy(F.desc("n_purchases"), "attributed_type")


def first_touch_attribution(events: DataFrame) -> DataFrame:
    """First-touch purchase attribution — last_touch_attribution's
    symmetric twin (marketing stacks report both; a large gap between the
    two reveals whether acquisition or closing channels drive purchases):
    each purchase is credited to the user's EARLIEST non-purchase event
    type at or before the purchase ('none' when no touch precedes it).

    Output and determinism match last_touch_attribution: per attributed
    type, purchase count + share of all purchases; one user_id window
    pass with ``first(..., ignorenulls=True)`` over (ts, event_id) on the
    default unbounded-preceding frame; the share denominator windows over
    the ≤ |event_types| aggregate rows only.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    src = F.first(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    counts = (
        events.withColumn("src", src)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("src", F.lit("none")).alias("attributed_type"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return counts.select(
        "attributed_type",
        "n_purchases",
        F.round(
            F.col("n_purchases") / F.sum("n_purchases").over(Window.partitionBy()), 6
        ).alias("share"),
    ).orderBy(F.desc("n_purchases"), "attributed_type")


# Repeat-purchase gap buckets: (label, exclusive upper bound in EXACT
# microseconds; None = open-ended). Integer comparisons on exact NTZ
# microsecond deltas — no float arithmetic anywhere near the bucket edges.
_PURCHASE_GAP_BUCKETS = [
    ("0-6h", 6 * 3_600_000_000),
    ("6-24h", 24 * 3_600_000_000),
    ("1-3d", 3 * 86_400_000_000),
    ("3-7d", 7 * 86_400_000_000),
    ("7d+", None),
]


def repeat_purchase_intervals(events: DataFrame) -> DataFrame:
    """Repeat-purchase cadence histogram: the gap between each user's
    consecutive purchases, bucketed into fixed horizons — the
    replenishment-cycle panel behind "how often do buyers come back?"
    (time_to_conversion measures first view -> first purchase; this
    measures purchase -> next purchase).

    Returns (bucket_order, bucket, n_intervals, share) ordered by
    bucket_order (buckets with zero intervals are absent). Gaps are exact
    NTZ microsecond integers compared against exact integer bucket edges,
    so bucket assignment is engine-identical by construction.

    Scale shape: the purchase filter pushes to the scan (purchases are a
    fraction of the stream), ONE user_id window shuffle over that reduced
    subset for the lag, then a <= |buckets|-row map-side agg; the share
    window runs over those few rows.
    """
    from pyspark.sql import Window

    p = events.filter(F.col("event_type") == "purchase")
    # timestampdiff(MICROSECOND) on NTZ timestamps: exact integer,
    # wall-clock pure — the interarrival_stats house pattern (a
    # cast-to-timestamp epoch diff would shift across DST boundaries on
    # zoned sessions).
    gaps = p.select(
        F.expr(
            "timestampdiff(MICROSECOND, lag(ts) over "
            "(partition by user_id order by ts, event_id), ts)"
        ).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    bucket = F.lit(None).cast("string")
    order = F.lit(None).cast("int")
    for i, (label, hi) in reversed(list(enumerate(_PURCHASE_GAP_BUCKETS))):
        cond = F.lit(True) if hi is None else (F.col("gap_us") < F.lit(hi))
        bucket = F.when(cond, F.lit(label)).otherwise(bucket)
        order = F.when(cond, F.lit(i)).otherwise(order)
    counts = gaps.select(order.alias("bucket_order"), bucket.alias("bucket")).groupBy(
        "bucket_order", "bucket"
    ).agg(F.count(F.lit(1)).alias("n_intervals"))
    return counts.select(
        "bucket_order",
        "bucket",
        "n_intervals",
        F.round(
            F.col("n_intervals") / F.sum("n_intervals").over(Window.partitionBy()), 6
        ).alias("share"),
    ).orderBy("bucket_order")


def session_bounce_rate(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-day bounce rate: of the sessions STARTING each day, how many
    consist of a single event. Rides :func:`user_sessions` (native
    session_window — one user_id shuffle); the roll-up moves only
    session-sized rows. Output: (day, n_sessions, n_bounces, bounce_rate).
    """
    s = user_sessions(events, gap)
    bounce = (F.col("n_events") == 1).cast("long")
    return (
        s.groupBy(_day("session_start").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(bounce).alias("n_bounces"),
            F.round(F.sum(bounce) / F.count(F.lit(1)), 6).alias("bounce_rate"),
        )
        .orderBy("day")
    )


def time_to_conversion(
    events: DataFrame,
    from_type: str = "view",
    to_type: str = "purchase",
) -> DataFrame:
    """Conversion-latency histogram: for every user whose FIRST ``to_type``
    event lands at-or-after their FIRST ``from_type`` event, the elapsed
    time bucketed into whole hours — the "how long from first view to
    first purchase" distribution a product dashboard plots next to the
    funnel (funnel_conversion above counts who converts; this measures how
    fast).

    Returns (hours_bucket, n_users) ordered by bucket. Users missing
    either event, or whose first ``to_type`` precedes their first
    ``from_type`` (converted before ever viewing), are excluded — the
    same strict ordering rule funnel_conversion applies.

    Timezone note: ``ts`` is TIMESTAMP_NTZ; the delta uses
    ``timestampdiff(MICROSECOND, ...)``, which is wall-clock pure on NTZ
    (exact integer micros on both engines — verified against DuckDB's
    ``epoch_us`` difference), then integer-divides into hour buckets. No
    session-timezone cast ever touches the values.

    Scale shape: one map-side-combinable per-user conditional-min agg
    reduces the corpus to |users| rows, then one tiny hash agg reduces to
    |buckets| rows. No windows, no joins, nothing collected.
    """
    firsts = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == from_type, F.col("ts"))).alias("t_from"),
        F.min(F.when(F.col("event_type") == to_type, F.col("ts"))).alias("t_to"),
    )
    bucket = F.expr("timestampdiff(MICROSECOND, t_from, t_to) div 3600000000")
    return (
        firsts.filter(
            F.col("t_from").isNotNull()
            & F.col("t_to").isNotNull()
            & (F.col("t_to") >= F.col("t_from"))
        )
        .select(bucket.alias("hours_bucket"))
        .groupBy("hours_bucket")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("hours_bucket")
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over each user's event stream:
    for every ordered pair of consecutive events by the same user, count
    (from_type -> to_type) and the conditional probability of to_type
    given from_type — the numbers behind a user-journey Sankey / "what do
    users do right after an error?" panel.

    Returns (from_type, to_type, n_transitions, prob) ordered by
    (from_type, to_type); ``prob`` rows sum to 1 per from_type. Ordering
    within a user is (ts, event_id) — the event_id tiebreak makes the lag
    deterministic if two events share a timestamp.

    Timezone note: the window only ORDERS by the NTZ ``ts`` — no
    truncation or arithmetic, so no session-tz cast can touch values.

    Scale shape: ONE corpus shuffle (hashpartitioning on user_id for the
    lag window; per-user runs sort within partitions, no global sort),
    then a map-side-combinable hash agg down to <= |types|^2 rows; the
    conditional-probability window runs over that tiny matrix, never
    corpus rows.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    per_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(per_from).cast("double"),
            6,
        ).alias("prob"),
    ).orderBy("from_type", "to_type")


def event_type_lift(events: DataFrame) -> DataFrame:
    """Market-basket association between event types with the (user, day)
    as the basket: for every unordered type pair, the number of baskets
    containing both, the support, and the lift vs independence — lift > 1
    means the pair co-occurs more than chance ("users who error also
    purchase?"), the screen behind cross-sell / incident-impact panels.

    Returns (type_a, type_b, n_both, support, lift) for type_a < type_b,
    ordered by (type_a, type_b). support = n_both / n_baskets;
    lift = n_both * n_baskets / (n_a * n_b). All counts exact integers,
    ratios computed in doubles and rounded — engine-stable.

    Scale shape: ONE corpus shuffle builds the basket table
    (groupBy(user, day) -> sorted type set; persisted, it feeds all three
    tiny consumers). Pairs expand JVM-side from each basket's <= |types|
    sorted array via nested ``transform``+``slice`` higher-order functions
    — C(|types|,2) per basket, linear blow-up, NO self-join and no second
    corpus shuffle; per-type and total counts ride the same cached table.
    Day-truncation uses the NTZ double-cast (_day) so baskets are
    wall-clock pure on any session timezone.
    """
    from ..caching import tracked_persist

    baskets = tracked_persist(
        events.groupBy("user_id", _day().alias("day")).agg(
            F.array_sort(F.collect_set("event_type")).alias("types")
        )
    )
    pairs_col = F.flatten(
        F.expr(
            "transform(types, (x, i) -> "
            "transform(slice(types, i + 2, size(types)), y -> struct(x as a, y as b)))"
        )
    )
    pair_counts = (
        baskets.select(F.explode(pairs_col).alias("p"))
        .groupBy(F.col("p.a").alias("type_a"), F.col("p.b").alias("type_b"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    type_counts = (
        baskets.select(F.explode("types").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n_t"))
    )
    totals = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    return (
        pair_counts.join(
            type_counts.withColumnsRenamed({"t": "type_a", "n_t": "n_a"}),
            "type_a",
        )
        .join(
            type_counts.withColumnsRenamed({"t": "type_b", "n_t": "n_b"}),
            "type_b",
        )
        .crossJoin(totals)
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(F.col("n_both") / F.col("n_baskets").cast("double"), 6).alias(
                "support"
            ),
            F.round(
                F.col("n_both")
                * F.col("n_baskets")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


def daily_new_vs_returning(events: DataFrame) -> DataFrame:
    """Per-day split of the active-user count into first-ever-seen
    ("new") vs previously-seen ("returning") users — the growth-vs-
    retention headline over a raw event stream (cohort_retention's day-0
    row answers "how many signed up"; this answers "of today's actives,
    how many are new?").

    Returns (day, n_active_users, n_new_users, n_returning_users,
    new_share) ordered by day; n_active = n_new + n_returning by
    construction and new_share = n_new / n_active (6 dp).

    Scale shape: rides the SHARED persisted (user, day) activity table
    (user_day_activity — the same plan cohort_retention and
    rolling_active_users hit, so in a sweep the corpus dedup runs once).
    On top of it: one user-sized groupBy for each user's first day, one
    user-keyed join back (both sides already hash-partitioned on
    user_id from the dedup, so AQE can skip the re-exchange), and one
    |days|-row agg. Day-truncation is the NTZ double-cast — wall-clock
    pure on any session timezone.
    """
    ud = user_day_activity(events)
    first = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        ud.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active_users"),
            F.sum((F.col("day") == F.col("first_day")).cast("int")).cast(
                "long"
            ).alias("n_new_users"),
        )
        .select(
            "day",
            "n_active_users",
            "n_new_users",
            (F.col("n_active_users") - F.col("n_new_users")).alias(
                "n_returning_users"
            ),
            F.round(
                F.col("n_new_users") / F.col("n_active_users").cast("double"), 6
            ).alias("new_share"),
        )
        .orderBy("day")
    )


def top_event_paths(events: DataFrame, k: int = 20) -> DataFrame:
    """Top-k length-3 event-type journeys: the most common (step1 ->
    step2 -> step3) windows over each user's time-ordered event stream —
    the path-analysis panel behind "what three-step routes do users
    actually take?" (extends event_transitions' first-order matrix to
    second order).

    Returns (step1, step2, step3, n_paths, share) — ``share`` is the
    path's fraction of ALL length-3 windows — ordered by n_paths
    descending (ties broken by the step labels ascending, so the top-k
    cut is total and deterministic). Ordering within a user is
    (ts, event_id), the same tiebreak as event_transitions.

    Timezone note: the window only ORDERS by the NTZ ``ts`` — no
    truncation or arithmetic, so no session-tz cast can touch values.

    Scale shape: ONE corpus shuffle (hashpartitioning on user_id; both
    leads ride the SAME window spec, so Spark plans a single Window
    node), then a map-side-combinable hash agg down to <= |types|^3
    rows; the 1-row total broadcasts and the final top-k is
    TakeOrderedAndProject over the tiny path table.
    """
    from pyspark.sql import Window

    from ..caching import tracked_persist

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = events.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).filter(F.col("step3").isNotNull())
    # Persist the <= |types|^3-row count table: the total and the top-k both
    # read it, and without the pin the corpus-sized window would run twice.
    counts = tracked_persist(
        paths.groupBy("step1", "step2", "step3").agg(
            F.count(F.lit(1)).alias("n_paths")
        )
    )
    totals = counts.agg(F.sum("n_paths").alias("_n_total"))
    return (
        counts.crossJoin(totals)
        .select(
            "step1",
            "step2",
            "step3",
            "n_paths",
            F.round(F.col("n_paths") / F.col("_n_total").cast("double"), 6).alias(
                "share"
            ),
        )
        .orderBy(F.desc("n_paths"), "step1", "step2", "step3")
        .limit(k)
    )


def user_stickiness(events: DataFrame, window_days: int = 7) -> DataFrame:
    """DAU/WAU stickiness ratio per day — the engagement-frequency
    headline ("of the users active this week, what share came back
    today?"). A ratio near 1 means the weekly audience shows up daily;
    a falling ratio with stable WAU means the same audience visits less
    often — the distinction raw actives hide.

    Returns (day, dau, wau, stickiness) ordered by day, one row per day
    with at least one event; stickiness = dau / trailing-7-day active
    users, 6 dp.

    Scale shape: DAU is a |days|-row agg over the SHARED persisted
    (user, day) activity table; WAU is :func:`rolling_active_users`
    (the lag+explode construction — no sliding COUNT(DISTINCT) frame),
    which rides the SAME cached table. The final join matches two
    day-sized series (broadcast at any horizon).
    """
    ud = user_day_activity(events)
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wau = rolling_active_users(events, window_days).withColumnsRenamed(
        {"active_users": "wau"}
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.round(F.col("dau") / F.col("wau").cast("double"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


def rolling_distinct_sketch(
    events: DataFrame, window_days: int = 7, lg_k: int = 12
) -> DataFrame:
    """Trailing-window distinct users via MERGEABLE Datasketches HLL — the
    sketch counterpart of :func:`rolling_active_users` and the pattern that
    actually runs at 100 TB: sketch each day ONCE (one corpus-sized,
    map-side-combinable aggregate into a fixed 2^lg_k-byte register set),
    then answer ANY trailing window by unioning ≤ window_days daily
    sketches — no re-scan, no user-day expansion. The exact operator's
    per-user lag/explode costs user-days × window rows; this costs
    #days × window SKETCH rows (hundreds), so re-deriving DAU/WAU/MAU for
    new window sizes is free once the daily sketch table is persisted.

    Output: (day TIMESTAMP_NTZ, approx_active BIGINT) for every day with
    ≥1 active user in its trailing window — the same day set as the exact
    twin, so the two join 1:1 for the error contract (q_rolling_sketch_
    users emits rel_err per row; bound asserted in tests).

    Approximate by construction (rows-only driver check): Datasketches
    HLL at lg_k=12 has ~1.6% relative standard error.
    """
    daily = (
        events.groupBy(_day().cast("date").alias("day"))
        .agg(F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("sk"))
    )
    max_day = daily.agg(F.max("day").alias("max_day"))
    # each daily sketch contributes to target days [day, day + w - 1],
    # clamped to the corpus max day — identical day-set construction to
    # rolling_active_users, on #days rows instead of user-days
    return (
        daily.join(max_day)
        .select(
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.least(F.date_add("day", window_days - 1), F.col("max_day")),
                )
            ).alias("day"),
            "sk",
        )
        .groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_active"))
        .select(F.col("day").cast("timestamp_ntz").alias("day"), "approx_active")
        .orderBy("day")
    )
