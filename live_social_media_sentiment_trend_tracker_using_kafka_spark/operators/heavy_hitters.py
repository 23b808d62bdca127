"""Exact distributed heavy hitters with bounded memory.

Finding all items occurring in >= phi fraction of N rows with a plain
``groupBy(item).count()`` shuffles every distinct item — at 100 TB the
long tail of near-unique items dominates the shuffle even though none of it
can be a heavy hitter. The classic two-phase fix (public: Misra & Gries
1982; merged-summary guarantees in Agarwal et al., "Mergeable Summaries",
PODS 2012):

1. **Candidate phase** — one pass per partition with a Misra-Gries summary
   of ``k = ceil(1/phi)`` counters (``mapInPandas``: Arrow-batched, counters
   carried across batches of the partition, O(k) memory). Pigeonhole: any
   item with global frequency > N/k must exceed n_p/k in at least one
   partition, so the union of per-partition candidates is a SUPERSET of
   every true heavy hitter. Output is <= k rows per partition — tiny.
2. **Verify phase** — exact counts for candidate items only: semi-join the
   data against the (broadcast) candidate set, then a normal count. The
   shuffle now carries only candidate items, not the tail.

The result is EXACT (phase 1 can only over-generate, never miss — and the
threshold filter happens on true counts), so a plain GROUP BY/HAVING SQL
twin oracle-checks it.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from ..caching import tracked_persist


def _misra_gries_partial(k: int, col: str):
    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized mergeable-summary variant (Agarwal et al. 2012): fold
        # each Arrow batch's value_counts into the summary, then if more
        # than k counters remain, subtract the (k+1)-largest count from all
        # and drop the non-positive ones. Same guarantee as row-at-a-time
        # Misra-Gries (undercount <= n_p/(k+1)), batch-speed in pandas.
        counters = pd.Series(dtype="int64")
        n_rows = 0
        for batch in batches:
            n_rows += len(batch)
            vc = batch[col].dropna().value_counts()
            counters = counters.add(vc, fill_value=0)
            if len(counters) > k:
                cut = counters.nlargest(k + 1).iloc[-1]
                counters = counters - cut
                counters = counters[counters > 0]
        # candidates, plus one null-item row carrying the partition's row
        # count — so the total N rides out of the same pass (no extra scan).
        yield pd.DataFrame(
            {col: list(counters.index) + [None], "_n": [0] * len(counters) + [n_rows]}
        )

    return summarize


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    phi: float = 0.01,
) -> DataFrame:
    """All items with count >= ceil(phi * N), with their EXACT counts
    (N = non-null item rows; null items carry no identity and are excluded
    on BOTH sides of the definition — the SQL twin's WHERE item IS NOT NULL
    + GROUP BY semantics).

    Memory per task is O(1/phi) regardless of data size; the input is
    scanned exactly TWICE (candidate pass — which also emits N — and verify
    pass), and the only full shuffle carries candidate rows. Output:
    (item_col, count), count desc, item asc tiebreak. The tiny summary
    table is persisted for the duration of the returned plan — it feeds
    both the threshold and the candidate set.
    """
    if not 0.0 < phi <= 1.0:
        raise ValueError("phi must be in (0, 1]")
    from .skew import fan_out

    k = math.ceil(1.0 / phi)
    # fan_out matters doubly here: the summaries are per-PARTITION, so an
    # under-split input both serializes the pass and degrades it to one
    # global Misra-Gries (still correct — candidates only over-generate).
    items = fan_out(df).select(item_col).filter(F.col(item_col).isNotNull())
    out_schema = T.StructType(
        [
            # nullable regardless of source: the sentinel total row is None
            T.StructField(item_col, items.schema[item_col].dataType, True),
            T.StructField("_n", T.LongType(), False),
        ]
    )
    summary = items.mapInPandas(_misra_gries_partial(k, item_col), schema=out_schema)
    summary = tracked_persist(summary)  # <= (k+1) rows per partition
    totals = summary.agg(F.sum("_n").alias("_total"))
    candidates = summary.filter(F.col(item_col).isNotNull()).select(item_col).distinct()
    return (
        items.join(candidates, item_col, "left_semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("count"))
        .crossJoin(totals)  # 1-row threshold table
        # DECIMAL threshold arithmetic: float64 phi*N can land epsilon above
        # the exact product (0.07*100 = 7.000000000000001 -> ceil 8) and
        # silently drop a boundary heavy hitter; SQL engines parse the phi
        # literal as decimal, so decimal is also what the oracle computes.
        .filter(
            F.col("count")
            >= F.ceil(F.lit(str(phi)).cast("decimal(12,10)") * F.col("_total"))
        )
        .drop("_total")
        .orderBy(F.desc("count"), F.asc(item_col))
    )
