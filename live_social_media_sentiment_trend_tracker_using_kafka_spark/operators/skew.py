"""Skew audit and partitioning for CPU-bound per-row work.

Runtime key skew is left to Spark: ``session.build_session`` enables AQE's
skew-join split, which divides an oversized shuffle partition of a join with
no per-query knob, and the partial ``HashAggregate`` Spark plans under every
distinct, count, sum, min and max already sends a hot key at most one row
per map task to its reducer. What stays here is the audit that shows whether
a key is hot (``key_skew_audit``, ``concentration_deciles``) and
``fan_out``, which spreads an under-partitioned input over the cores before
per-row kernels run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fan_out(df: DataFrame) -> DataFrame:
    """Guarantee enough partitions for CPU-bound per-row work.

    A small local parquet file scans as ONE split, so signature/fingerprint
    kernels (~1 ms/doc) run on a single core while 31 idle — measured 4-10×
    of several operators' wall time at sf0.1. On any real deployment the
    scan already has >= defaultParallelism splits and this is a NO-OP (no
    shuffle inserted); only under-partitioned inputs get a round-robin
    repartition. Never call it on a path that doesn't do heavy per-row
    compute — an unconditional repartition of a 100 TB scan would be the
    bug, which is why this is opt-in per operator and not in ``table()``.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def key_skew_audit(df: DataFrame, key_cols: list[str], k: int = 20) -> DataFrame:
    """Shuffle-health diagnostic: the top-``k`` heaviest keys with their
    share of all rows and their count relative to the mean key — the audit
    a pipeline runs on a join/groupBy key to see how much work AQE's skew
    split and the map-side partial aggregates are absorbing.
    ``skew_vs_mean`` ~ 1 means uniform; a key at 50 means one reducer will
    receive 50 keys' worth of rows unless the plan splits or pre-combines it.

    Returns (key_cols..., n_rows, share, skew_vs_mean) ordered by n_rows
    desc with a key tiebreak.

    Scale shape: ONE map-side-combinable hash agg reduces the corpus to
    |keys| rows (persisted — it feeds both the 1-row totals agg and the
    top-k); the 1-row totals cross-join back (Spark plans a broadcast
    nested-loop join from the global aggregate's 1-row estimate); top-k is
    TakeOrderedAndProject. Nothing key-skewed runs here: the audit itself
    aggregates on the (possibly hot) key, but count partials compress
    map-side so the hot key contributes one row per map task, not its raw
    rows. Ratios divide exact integer counts in doubles, so the 6-dp round
    is engine-stable.
    """
    from ..caching import tracked_persist

    counts = tracked_persist(
        df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    )
    totals = counts.agg(
        F.sum("n_rows").cast("double").alias("_total"),
        F.count(F.lit(1)).cast("double").alias("_n_keys"),
    )
    return (
        counts.crossJoin(totals)
        .select(
            *key_cols,
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
            F.round(
                F.col("n_rows") * F.col("_n_keys") / F.col("_total"), 6
            ).alias("skew_vs_mean"),
        )
        .orderBy(F.desc("n_rows"), *[F.asc(c) for c in key_cols])
        .limit(k)
    )


def concentration_deciles(
    df: DataFrame, key_cols: list[str], round_digits: int = 6
) -> DataFrame:
    """Lorenz-style concentration report over a key: per count-decile of
    keys, how many rows that decile holds and the cumulative share held
    from the heaviest decile down — key_skew_audit's companion ("the top
    10% of users generate X% of events"), the number that decides whether
    hot-key mitigation matters at all or only for a handful of outliers.

    Deciles are VALUE-based: the nine boundaries are exact interpolated
    percentiles (0.1..0.9) of the per-key counts, and a key's decile is
    1 + (how many boundaries its count strictly exceeds). Heavy ties
    therefore lump into one decile rather than being split arbitrarily —
    deterministic on any engine, unlike a rank-based ntile whose tie
    assignment is order-dependent (and whose global sort moves every key
    to one task at scale; the rfm_segments lesson).

    Returns (decile, n_keys, n_rows, row_share, cum_share_from_top)
    ordered heaviest decile first.

    Scale shape: one map-side-combinable count agg to |keys| rows
    (persisted — feeds the percentile fit, the decile agg, and the
    total); the boundary/total aggregates are 1-row frames that Spark
    broadcasts by size; the
    cumulative window orders <= 10 rows. Integer counts keep the
    interpolated boundaries and comparisons bit-identical across engines.
    """
    from pyspark.sql import Window

    from ..caching import tracked_persist

    counts = tracked_persist(
        df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    )
    # decile boundaries via the distributed counts reconstruction —
    # Spark's exact percentile() would buffer all |keys| counts on one
    # reducer (r11-measured superlinear in distinct values); bit-equal
    from .sampling import exact_percentiles

    bounds = exact_percentiles(
        counts, [], "n", [i / 10 for i in range(1, 10)], out_col="bs"
    )
    decile = F.lit(1) + sum(
        (F.col("n") > F.element_at(F.col("bs"), i + 1)).cast("int")
        for i in range(9)
    )
    per = (
        counts.join(bounds)
        .select(decile.alias("decile"), "n")
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_keys"), F.sum("n").alias("n_rows"))
    )
    totals = per.agg(F.sum("n_rows").cast("double").alias("_total"))
    w = Window.orderBy(F.desc("decile")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per.join(totals)
        .select(
            F.col("decile").cast("int").alias("decile"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("n_rows") / F.col("_total"), round_digits).alias(
                "row_share"
            ),
            F.round(
                F.sum("n_rows").over(w) / F.col("_total"), round_digits
            ).alias("cum_share_from_top"),
        )
        .orderBy(F.desc("decile"))
    )
