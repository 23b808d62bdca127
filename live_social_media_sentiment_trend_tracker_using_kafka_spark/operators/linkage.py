"""Entity resolution / record linkage (§2.8 extension): match dirty
records against a clean registry with blocking + edit distance — the
dedup family's cousin for STRUCTURED keys (names, addresses, product
titles), where token shingles are too coarse and the match predicate is
an edit-distance budget.

The classic two-stage shape (Fellegi-Sunter style blocking, public
record-linkage literature):

1. **Blocking**: join dirty and clean ONLY where a cheap deterministic
   block key agrees (e.g. country + a stable substring). This is the
   recall/cost contract — a corruption that changes the block key is
   unmatchable by construction, and the pairwise cost is
   Σ_blocks |dirty_b| × |clean_b|, so the caller must pick keys whose
   blocks stay small (document per use; warn-level guidance below).
2. **Matching**: per surviving pair, exact Levenshtein distance
   (JVM-side ``F.levenshtein`` — no Python boundary), keep pairs within
   ``max_distance``, then per dirty record pick the single best match by
   (distance, clean id) — a ``min_by`` hash aggregation, map-side
   combinable.

Scale shape: one hash join on the block key (both sides shuffle on it —
neither side is assumed broadcastable; AQE may still choose broadcast at
runtime when a side is small), one hash aggregation on the dirty id. No
window, no cross join; cost is driven entirely by block sizes, which the
block-key contract bounds. An oversized block at 100 TB is split at run
time by AQE's skew join (enabled in ``session.build_session``).

Determinism: Levenshtein is exact; the best-match pick orders on
(distance, clean_id), so replays and the DuckDB oracle (``levenshtein``)
agree row-for-row.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A block whose |dirty_b| x |clean_b| candidate product exceeds this is
# "hot": the r10 probe measured the saturating-key failure mode at 2M x 2M
# records with a 4-digit key (200 x 200 blocks were fine; the blowup was
# the total Σ|d_b|x|c_b| growing quadratically).  The guard re-splits hot
# blocks by a name-LENGTH band — exact for Levenshtein, since
# dist(a, b) >= |len(a) - len(b)| means a within-budget match can never
# sit more than one band away.
DEFAULT_MAX_BLOCK_PAIRS = 4_000_000
# The saturating-key failure is usually DISTRIBUTED (the r10 probe's 2M x
# 2M, 4-digit key = 10k blocks of 200 x 200 — no single block hot, total
# Σ|d_b|x|c_b| = 400M pairs): a per-block cap never fires on it, so the
# guard also gates the TOTAL candidate volume and refines every block
# when it trips.
DEFAULT_MAX_TOTAL_PAIRS = 100_000_000
_HOT_KEY_FETCH_CAP = 10_000


def _length_banded_pairs(
    d: DataFrame, c: DataFrame, block_cols: list[str], band_width: int
) -> DataFrame:
    """Join dirty x clean on (block key, length band), with the dirty side
    exploded to its own band ±1 — every pair within the edit budget
    survives (|len diff| <= band_width ⇒ band diff <= 1), while pairs of
    incompatible lengths are never enumerated. Each surviving (d, c) pair
    appears exactly once: c sits in one band and d's three band rows are
    distinct."""
    db = d.withColumn(
        "_band",
        F.explode(
            F.array(
                *[
                    (F.floor(F.length("_dname") / band_width) + off).cast("long")
                    for off in (-1, 0, 1)
                ]
            )
        ),
    )
    cb = c.withColumn(
        "_band", F.floor(F.length("_cname") / band_width).cast("long")
    )
    return db.join(cb, on=block_cols + ["_band"], how="inner").drop("_band")


def blocked_edit_resolve(
    dirty: DataFrame,
    clean: DataFrame,
    block_cols: list[str],
    dirty_id: str,
    dirty_name: str,
    clean_id: str,
    clean_name: str,
    max_distance: int = 2,
    max_block_pairs: int | None = DEFAULT_MAX_BLOCK_PAIRS,
    refine_cols: list[str] | None = None,
    max_total_pairs: int = DEFAULT_MAX_TOTAL_PAIRS,
) -> DataFrame:
    """Resolve each dirty record to its best clean match within the
    same block and an edit-distance budget.

    Inputs must both carry ``block_cols`` (same names/types). Returns
    (dirty_id, dirty_name, clean_id, clean_name, distance) with ONE row
    per matched dirty record — the (distance, clean_id)-minimal
    candidate; unmatched dirty records are absent (left-anti recall
    audits compose on top).

    **Hot-block guard** (r10 VERDICT item: the saturating-key blowup was
    a documented caller contract with no runtime protection, unlike
    similarity's ``cap_cell_sizes``): when ``max_block_pairs`` is set,
    two map-side-combinable count aggregates find blocks whose candidate
    product exceeds the cap (a bounded control-plane fetch — only hot
    keys are collected, never block statistics for the whole corpus).
    Hot blocks are re-joined on (block key, name-length band) instead of
    the block key alone — recall-EXACT for edit distance because
    ``dist >= |len(a) - len(b)|``, so a within-budget pair is at most
    one band apart and the dirty side rides in 3 band rows. Cold blocks
    pay nothing beyond the two counts. A hot block whose names all share
    one length still saturates banding alone, so ``refine_cols`` (the
    r10 VERDICT's "secondary key-digit split") names EXTRA deterministic
    columns — present on both inputs, e.g. one more id digit, a zip
    prefix — that join hot blocks only; cold blocks keep the coarse key,
    so the refinement costs recall ONLY where it saved the quadratic
    (same recall contract as ``block_cols`` themselves: a corruption
    that changes a refine column makes that pair unmatchable — pick
    attributes the corruption model treats as stable). The guard warns
    with the worst offenders either way so a saturating key is never
    silent. ``max_block_pairs=None`` disables the gate (and its two
    count jobs).

    **Distributed saturation** (``max_total_pairs``): the r10 probe's
    blowup had NO hot block — 10k blocks of 200x200 pairs is a
    distributed quadratic (Σ = 400M candidates). When the summed
    candidate volume exceeds ``max_total_pairs``, every block is
    refined on (block key + refine_cols + length band). Measured at
    2M x 2M with a saturating 4-digit key: 152 s in r10 (plain
    Levenshtein, no gates) → 29 s with the thresholded DP + length
    pre-filter alone → see PLANS.md for the gated + refined numbers;
    a 5-digit key costs 9 s, which the refine path approaches without
    the caller changing their key.

    Both paths also carry the exact length pre-filter
    ``|len(d) - len(c)| <= max_distance`` in the join condition, so
    Levenshtein never runs on pairs the length bound already rejects.
    """
    refine_cols = refine_cols or []
    d = dirty.select(
        *block_cols, *refine_cols,
        F.col(dirty_id).alias("_did"), F.col(dirty_name).alias("_dname"),
    )
    c = clean.select(
        *block_cols, *refine_cols,
        F.col(clean_id).alias("_cid"), F.col(clean_name).alias("_cname"),
    )
    len_ok = (
        F.abs(F.length("_dname") - F.length("_cname")) <= max_distance
    )
    hot_rows, total_pairs, hot_total, hot_truncated = [], 0, 0, False
    if max_block_pairs is not None:
        dcnt = d.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("_dn"))
        ccnt = c.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("_cn"))
        sizes = dcnt.join(ccnt, on=block_cols, how="inner")
        prod = F.col("_dn") * F.col("_cn")
        stats = sizes.agg(
            F.sum(prod).alias("_total"),
            F.max(prod).alias("_max"),
            F.sum(F.when(prod > max_block_pairs, prod)).alias("_hot"),
        ).head()
        total_pairs = stats["_total"] or 0
        hot_total = stats["_hot"] or 0
        if (stats["_max"] or 0) > max_block_pairs:
            hot_rows = (
                sizes.filter(prod > F.lit(max_block_pairs))
                .select(*block_cols)
                .limit(_HOT_KEY_FETCH_CAP + 1)
                .collect()
            )
            if len(hot_rows) > _HOT_KEY_FETCH_CAP:
                # more hot keys than the bounded fetch can carry: the
                # per-key split would silently leave the overflow
                # unrefined (r11 ADVICE) — refine everything instead
                hot_truncated = True
                warnings.warn(
                    f"blocked_edit_resolve: over {_HOT_KEY_FETCH_CAP:,} hot "
                    f"blocks exceed max_block_pairs={max_block_pairs:,} — "
                    "beyond the bounded hot-key fetch; refining EVERY block "
                    "on (block key + refine_cols + name-length band).",
                    stacklevel=2,
                )
                hot_rows = []
    # the total-volume gate runs on the COLD residual independently of the
    # per-block gate (r11 ADVICE: one hot block must not exempt distributed
    # saturation across the remaining cold blocks from refinement)
    if hot_truncated or (not hot_rows and total_pairs > max_total_pairs) or (
        hot_rows and total_pairs - hot_total > max_total_pairs
    ):
        # distributed saturation: even without (or beyond) hot blocks, the
        # blocking key's candidate volume is quadratic-grade — refine every
        # block (banding is exact; refine_cols carry the blocking
        # contract), keeping Σ pairs linear-ish instead of O(n²/|blocks|)
        if not hot_truncated:
            warnings.warn(
                f"blocked_edit_resolve: candidate volume "
                f"{total_pairs - hot_total:,} outside hot blocks "
                f"(total {total_pairs:,}) exceeds "
                f"max_total_pairs={max_total_pairs:,} (saturating block "
                f"key); refining EVERY block on (block key"
                f"{' + refine_cols ' + str(refine_cols) if refine_cols else ''}"
                f" + name-length band). If names share one length and no "
                f"refine_cols are given, widen the block key instead.",
                stacklevel=2,
            )
        joined = _length_banded_pairs(
            d, c, block_cols + refine_cols, max(max_distance, 1)
        )
    elif hot_rows:
        warnings.warn(
            f"blocked_edit_resolve: {len(hot_rows)} block(s) exceed "
            f"max_block_pairs={max_block_pairs}; re-joining them on "
            f"(block key{' + refine_cols ' + str(refine_cols) if refine_cols else ''}"
            f" + name-length band). Banding is exact for Levenshtein; "
            f"refine_cols carry the blocking recall contract. If hot "
            f"blocks share one name length and no refine_cols are given, "
            f"the split is void — widen the block key. First hot keys: "
            f"{[tuple(r) for r in hot_rows[:3]]}",
            stacklevel=2,
        )
        spark = d.sparkSession
        hot_df = spark.createDataFrame(hot_rows, d.select(*block_cols).schema)
        band_width = max(max_distance, 1)
        cold_pairs = (
            d.join(hot_df, on=block_cols, how="left_anti")
            .join(
                c.join(hot_df, on=block_cols, how="left_anti").drop(*refine_cols),
                on=block_cols,
                how="inner",
            )
        )
        hot_pairs = _length_banded_pairs(
            d.join(hot_df, on=block_cols, how="left_semi"),
            c.join(hot_df, on=block_cols, how="left_semi"),
            block_cols + refine_cols,
            band_width,
        )
        joined = cold_pairs.unionByName(hot_pairs, allowMissingColumns=True)
    else:
        joined = d.join(c.drop(*refine_cols), on=block_cols, how="inner")
    # threshold variant: the DP early-exits once distance provably exceeds
    # the budget (returns -1), so hot pairs pay O(len * budget) not
    # O(len^2); -1 must be filtered explicitly (it would pass <= budget)
    pairs = joined.filter(len_ok).withColumn(
        "_dist",
        F.levenshtein(F.col("_dname"), F.col("_cname"), max_distance),
    )
    best = (
        pairs.filter((F.col("_dist") >= 0) & (F.col("_dist") <= max_distance))
        .groupBy("_did")
        .agg(
            F.min_by(
                F.struct(
                    F.col("_cid").alias("_cid"),
                    F.col("_cname").alias("_cname"),
                    F.col("_dname").alias("_dname"),
                    F.col("_dist").alias("_dist"),
                ),
                F.struct(F.col("_dist"), F.col("_cid")),
            ).alias("m")
        )
    )
    return best.select(
        F.col("_did").alias(dirty_id),
        F.col("m._dname").alias(dirty_name),
        F.col("m._cid").alias(clean_id),
        F.col("m._cname").alias(clean_name),
        F.col("m._dist").cast("int").alias("distance"),
    )
