"""Dataset selection operators for training-corpus assembly (§2.8
extension): deterministic splits, token-budget mixing, percentile quality
gates, and priority-source dedup.

All four follow the repo's reproducibility rule for sampling-ish steps
(see corpus.stratified_sample): any "random" choice is a pure function of
the data via md5 — re-runs, audits, and the DuckDB oracle pick the exact
same rows on any engine.

Scale shapes:

- ``hash_split``: stateless per-row labeling — no shuffle at all; the split
  ratios hold per-partition by hash uniformity, so a 100 TB corpus splits
  in one map pass.
- ``token_budget_mix``: the grouping key is the handful of sources, so
  skew is the norm; the per-source running sum rides
  ``window_funcs.chunked_running_sum``, which sorts ordered chunks of each
  source in parallel instead of one whole source per task.
- ``quality_percentile_filter``: per-language exact percentile via
  ``exact_percentiles`` (few groups) broadcast back — no second scan of
  text (the score column is reused).
- ``priority_source_dedup``: row_number over (fingerprint) — one shuffle
  on the dup key, same cost as plain exact dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint_col, quality_score_cols, token_count_col
from ..caching import tracked_persist


def _md5_bucket_hex(id_col: str) -> F.Column:
    """First 4 hex chars of md5(id) — a uniform 16-bit bucket, compared AS A
    STRING so Spark and any SQL oracle agree without hex→int conversions
    (hex chars are 0-9 < a-f in every collation that matters)."""
    return F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)


def split_thresholds(fractions: dict[str, float]) -> list[tuple[str, str]]:
    """[(label, exclusive-upper-bound-hex)] in declaration order; the last
    label absorbs any rounding remainder."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    out, cum = [], 0.0
    for label, frac in fractions.items():
        cum += frac
        ub = int(cum * 65536)
        # A boundary at/above 0x10000 would be 5 hex chars and break the
        # 4-char lexicographic compare ("ffff" > "10000"); "zzzz" sorts
        # after every hex string, making such a cut absorb everything —
        # only reachable when trailing fractions are ~0.
        out.append((label, "zzzz" if ub >= 65536 else format(ub, "04x")))
    return out


def hash_split(
    df: DataFrame,
    fractions: dict[str, float] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment: (id, split).

    Buckets md5(id) into 65,536 cells and cuts at the cumulative-fraction
    boundaries. Stateless and engine-portable: the same doc lands in the
    same split on every run, on every engine, regardless of partitioning —
    the property that keeps eval sets leak-free across pipeline re-runs.
    """
    return df.select(
        F.col(id_col), split_assignment_col(id_col, fractions).alias("split")
    )


def split_assignment_col(
    id_col: str, fractions: dict[str, float] | None = None
) -> F.Column:
    """The hash_split when-chain as a composable Column, so consumers that
    need the split label NEXT TO other per-row columns (split_leakage)
    compute it in the same projection instead of self-joining on id."""
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    bounds = split_thresholds(fractions)
    bucket = _md5_bucket_hex(id_col)
    expr = None
    for label, ub in bounds[:-1]:
        cond = bucket < F.lit(ub)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return F.lit(bounds[0][0]) if expr is None else expr.otherwise(bounds[-1][0])


def split_summary(
    df: DataFrame,
    fractions: dict[str, float] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(split, n_docs, total_tokens) — the auditable split report."""
    assigned = hash_split(df, fractions, id_col).join(
        df.select(id_col, token_count_col(F.col(text_col)).alias("n_tokens")), id_col
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("split")
    )


def token_budget_mix(
    df: DataFrame,
    budgets: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Dataset mixing: per-source token budgets, deterministically filled.

    Docs within each source are ranked by (md5(id), id) — a fixed
    pseudo-random priority — and kept while the running BPE-token total
    stays within that source's budget (inclusive: the doc that crosses the
    boundary is dropped). Sources absent from ``budgets`` are dropped
    entirely. Returns (id, source, n_tokens, cum_tokens) for the kept docs.

    Scale shape: sources are few, so a running-sum window partitioned by
    source would sort each source's whole doc set on one reducer. The
    running total rides ``window_funcs.chunked_running_sum`` over
    (md5, id) instead. Only the slim (id, source, n_tokens, md5) columns
    shuffle.
    """
    from .window_funcs import chunked_running_sum

    budget = None
    for src, b in budgets.items():
        cond = F.col(source_col) == src
        budget = F.when(cond, b) if budget is None else budget.when(cond, b)
    budget = budget.otherwise(F.lit(None)) if budget is not None else F.lit(None)
    base = df.select(
        F.col(id_col),
        F.col(source_col),
        token_count_col(F.col(text_col)).alias("n_tokens"),
        F.md5(F.col(id_col).cast("string")).alias("__md5"),
    )
    return (
        chunked_running_sum(base, [source_col], ["__md5", id_col], "n_tokens", "cum_tokens")
        .withColumn("__budget", budget)
        .filter(F.col("cum_tokens") <= F.col("__budget"))
        .select(id_col, source_col, "n_tokens", "cum_tokens")
        .orderBy(source_col, id_col)
    )


def quality_percentile_filter(
    df: DataFrame,
    pct: float = 0.5,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep docs whose quality score clears their language's pct-percentile.

    Relative (per-group) thresholds beat one global cutoff when languages
    have different score distributions — the standard way corpus filters
    avoid wiping out whole languages. The exact cutoff rides
    ``exact_percentiles`` (distributed counts reconstruction — Spark's
    ``percentile()`` buffers each language's whole score multiset on one
    reducer, the r11-measured superlinear cliff), so the cutoff is
    oracle-exact.
    """
    q = quality_score_cols(F.col(text_col))
    scored = df.select(
        F.col(id_col), F.col(lang_col), q["quality_score"].alias("quality_score")
    )
    cut = exact_percentiles(scored, [lang_col], "quality_score", [pct]).select(
        lang_col, F.element_at("pcts", 1).alias("cutoff")
    )
    return (
        scored.join(cut, lang_col)
        .filter(F.col("quality_score") >= F.col("cutoff"))
        .select(
            id_col,
            lang_col,
            F.round("quality_score", 6).alias("quality_score"),
            F.round("cutoff", 6).alias("cutoff"),
        )
        .orderBy(id_col)
    )


def priority_source_dedup(
    df: DataFrame,
    priority: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Exact dedup keeping the best-PROVENANCE copy, not the min-id one.

    Within each exact-duplicate group (normalized-text fingerprint) keep the
    doc from the earliest source in ``priority`` (unlisted sources rank
    last), tie-broken by min id. This is how multi-crawl corpora keep the
    curated copy (e.g. wiki) over the web scrape of the same text. Returns
    the kept (id, source, fingerprint, dup_count).
    """
    rank = None
    for i, src in enumerate(priority):
        cond = F.col(source_col) == src
        rank = F.when(cond, i) if rank is None else rank.when(cond, i)
    rank = rank.otherwise(F.lit(len(priority))) if rank is not None else F.lit(0)
    w = Window.partitionBy("fingerprint").orderBy(rank.asc(), F.col(id_col).asc())
    cnt = Window.partitionBy("fingerprint")
    return (
        df.select(
            F.col(id_col), F.col(source_col), fingerprint_col(F.col(text_col)).alias("fingerprint")
        )
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(cnt))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .orderBy(id_col)
    )


def temperature_mix(
    df: DataFrame,
    group_col: str = "source",
    alpha: float = 0.5,
    total_docs: int = 1000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-weighted mixture sampling: per-group quotas proportional
    to ``count^alpha`` (the multilingual/multi-source ``p_i^alpha`` recipe
    — alpha < 1 up-weights small groups, alpha = 1 is proportional,
    alpha = 0 is uniform-by-group), rows chosen deterministically by
    md5(id) rank within each group.

    Fully deterministic and SQL-expressible: quotas are
    floor(total · c^alpha / Σc^alpha) (floor, never round — identical in
    every engine), the per-group pick is the same md5-order rank
    ``stratified_sample`` uses. Plan: one count aggregate (tiny — one row
    per group, broadcast back), one ranked window per group partition. A
    group's quota is capped by its size implicitly (rank can't exceed it).
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_c"))
    denom = counts.agg(F.sum(F.pow(F.col("_c"), F.lit(alpha))).alias("_z"))
    quotas = counts.join(denom).select(
        group_col,
        F.floor(
            F.lit(float(total_docs)) * F.pow(F.col("_c"), F.lit(alpha)) / F.col("_z")
        ).alias("_quota"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .join(quotas, group_col)
        .filter(F.col("_rn") <= F.col("_quota"))
        .select(*df.columns)
        .orderBy(group_col, id_col)
    )


def capped_group_sample(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cap over-represented groups: keep at most ``cap`` rows per group —
    the domain-balancing downsample every curation pipeline runs before
    mixing (one crawl domain must not drown the mixture; CCNet/Gopher
    keep per-domain quotas). The kept subset is deterministic and
    uniform: rows rank by (md5(id), id), the same engine-neutral order
    the rest of the sampling family uses.

    Scale shape — the naive form is ``row_number() OVER (PARTITION BY
    group ORDER BY md5)``, which sorts each WHOLE group in one task, and
    the hot group is precisely the one being capped. So the rank is a
    running count from ``window_funcs.chunked_running_sum`` over
    (md5, id). The filter on its ``_offset`` (the group's count in
    earlier chunks) runs below the chunk-local window, so a hot domain's
    chunks that start at or past ``cap`` are dropped before they sort.
    Keys are unique ((md5, id) collisions impossible within a group), so
    the running count is the exact row number.

    Returns the kept rows (original columns), ordered by (group, id).
    """
    from .window_funcs import chunked_running_sum

    ranked = chunked_running_sum(
        df.withColumn("_ord", F.md5(F.col(id_col).cast("string"))),
        [group_col],
        ["_ord", id_col],
        F.lit(1),
        "_rn",
    )
    return (
        ranked.filter(F.col("_offset") < cap)
        .filter(F.col("_rn") <= cap)
        .select(*df.columns)
        .orderBy(group_col, id_col)
    )


def split_leakage(
    df: DataFrame,
    fractions: dict[str, float] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Eval-set leakage audit, run AFTER hash_split: exact-duplicate
    fingerprint groups that STRADDLE split boundaries. A test doc whose
    verbatim twin sits in train inflates every eval metric; because
    hash_split assigns by doc ID, two identical TEXTS can land on
    opposite sides — dedup-before-split ordering is the fix this audit
    enforces.

    One row per leaking fingerprint: (fingerprint, n_docs, n_splits,
    splits) with ``splits`` sorted and comma-joined for a stable,
    engine-portable rendering.

    Scale shape: split label and fingerprint are computed side by side in
    ONE projection (split_assignment_col — no self-join on id), then one
    hash shuffle on fingerprint; per-group state is the bounded split set
    (≤ |splits| labels via collect_set), never the documents. Identical
    construction to the exact-dedup family, so it rides the same
    map-side-combinable aggregate at 100 TB.
    """
    from ..functions.text import fingerprint_col

    labeled = df.select(
        fingerprint_col(F.col(text_col)).alias("fingerprint"),
        split_assignment_col(id_col, fractions).alias("split"),
    )
    return (
        labeled.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_sort(F.collect_set("split")).alias("_splits"),
        )
        .filter(F.size("_splits") > 1)
        .select(
            "fingerprint",
            "n_docs",
            F.size("_splits").cast("int").alias("n_splits"),
            F.array_join("_splits", ",").alias("splits"),
        )
        .orderBy("fingerprint")
    )


def cluster_safe_split(
    df: DataFrame,
    components: DataFrame,
    fractions: dict[str, float] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Leakage-proof train/val/test assignment: split by near-dup
    COMPONENT, not by document.

    ``hash_split`` assigns by doc id, so two near-duplicate documents can
    land on opposite sides of an eval boundary — the exact failure mode
    ``split_leakage`` audits after the fact. This operator prevents it BY
    CONSTRUCTION: every member of a near-dup cluster inherits the
    cluster's component id (min doc id in the cluster, from
    cluster.connected_components) and the stateless md5 bucketing is
    applied to THAT, so a near-dup pair straddling splits is impossible —
    the sampling-side counterpart of dedup-before-split ordering, for
    pipelines that must KEEP near-dups (e.g. epoch-weighted corpora) yet
    still need clean eval boundaries.

    Scale shape: ``components`` holds only nodes that appear in near-dup
    pairs (dup-rate × corpus — small by corpus hygiene), so the left join
    broadcasts under AQE; docs absent from it are singleton clusters
    (component = own id) via coalesce. Everything else is the same
    stateless projection as hash_split: no shuffle beyond the join.

    Returns (id_col, component, split).
    """
    comp = components.select(
        F.col("node").alias(id_col), F.col("component").alias("component")
    )
    return (
        df.select(id_col)
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
        .withColumn("split", split_assignment_col("component", fractions))
    )


def epoch_shard_plan(
    df: DataFrame,
    n_shards: int,
    epochs: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-epoch shuffle + shard plan for a training data
    loader: every (epoch, doc) gets a shard and an intra-shard position,
    reshuffled INDEPENDENTLY each epoch, identically on every engine and
    every rerun (md5 keying, same rationale as hash_split — no RNG state,
    no partitioning dependence).

    shard = first-16-bits-of-md5(epoch:id) mod n_shards; pos = rank of
    md5(epoch:id) within (epoch, shard). A loader that reads shard files
    in pos order replays the exact global permutation; a preempted epoch
    resumes mid-shard with no bookkeeping beyond (epoch, shard, pos).

    Scale shape: the epoch fan-out is a lateral explode of a 1..epochs
    array (rows × epochs, linear); the only shuffle is the (epoch, shard)
    window for pos — n_shards × epochs independent partitions, each
    ~|docs|/n_shards rows, embarrassingly parallel. Output (doc_id,
    epoch, shard, pos).
    """
    # fail fast: sequence(1, 0) would DESCEND ([1, 0]) and % 0 nulls the
    # shard — both silent wrong-plan modes (same precedent as
    # split_thresholds' fraction validation)
    if epochs < 1:
        raise ValueError(f"epoch_shard_plan: epochs must be >= 1, got {epochs}")
    if n_shards < 1:
        raise ValueError(f"epoch_shard_plan: n_shards must be >= 1, got {n_shards}")
    keyed = df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(1), F.lit(epochs))).alias("epoch"),
    )
    h = F.md5(
        F.concat(F.col("epoch").cast("string"), F.lit(":"), F.col(id_col).cast("string"))
    )
    keyed = keyed.withColumn("_h", h).withColumn(
        "shard",
        (F.conv(F.substring("_h", 1, 4), 16, 10).cast("long") % n_shards).cast("int"),
    )
    w = Window.partitionBy("epoch", "shard").orderBy("_h", id_col)
    return (
        keyed.withColumn("pos", F.row_number().over(w))
        .select(id_col, "epoch", "shard", "pos")
        .orderBy("epoch", "shard", "pos")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
    seed: str = "",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, algorithm A-ES): row i draws u_i ∈ (0,1) from its id
    hash and ranks by key_i = ln(u_i) / w_i descending; the top ``n`` are
    an exact weighted sample without replacement — the primitive behind
    token-proportional document sampling, where quota mixes
    (temperature_mix) can't express per-ROW weights.

    Everything is engine-neutral and replayable: u_i = (first 8 md5 hex
    digits + 0.5) / 2^32 (strictly inside (0,1), so ln never sees 0), the
    optional ``seed`` prefixes the hash so resamples are independent.
    Non-positive weights are excluded (they have no sampling mass; ln/w
    would flip the order's meaning).

    Scale shape: one narrow map to attach the key, then a single
    TakeOrdered(n) — per-partition top-n heaps, the driver merges n·P
    candidates; no shuffle, no full sort, no state proportional to the
    corpus. The rank window after the take runs over ≤ n rows (one tiny
    partition by construction — not a scale hazard).

    Returns (sample_rank, id, weight) — integer-only output, so the
    cross-engine hash never depends on float rendering; the float key
    only decides membership/order, where the gap between adjacent keys
    dwarfs any last-ulp ln() difference between libm and the JVM.
    """
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    u = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("double") + F.lit(0.5)
    ) / F.lit(4294967296.0)
    key = F.log(u) / F.col(weight_col).cast("double")
    top = (
        df.filter(F.col(weight_col) > 0)
        .select(F.col(id_col), F.col(weight_col), key.alias("_key"))
        .orderBy(F.desc("_key"), F.asc(id_col))
        .limit(n)
    )
    w = Window.orderBy(F.desc("_key"), F.asc(id_col))
    return (
        top.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .select("sample_rank", id_col, weight_col)
        .orderBy("sample_rank")
    )


# exact_percentiles regime gate, measured on local[32] (PLANS.md r12):
# below ~1M distinct values per group (scaled down as |percentages|
# grows: 101-point grids cross over near 200k), the frequency-weighted
# percentile() over the SAME distinct-counts frame beats the
# reconstruction's running-sum/probe machinery outright (measured: freq
# 150k→0.7 s, 1M→4 s, 3M·101ps→122 s, 10M→GC death; reconstruction
# ~3-6 s constant). The r12 bench caught the cost of skipping this gate:
# value_outliers_mad 0.68→14.8 s when its two 125k-distinct-per-group
# medians rode the full reconstruction.
#
# A small-distinct frame routes to percentile(value, ps,
# greatest(_gcnt, 1L)) over the counts frame — bit-equal (pinned),
# NULL-group-preserving (rows ride zero-counted), and the plan-level
# sweep marker for a GUARDED exact percentile (tests/test_plans.py
# allows percentile( only next to greatest(_gcnt). A big-distinct frame
# runs the reconstruction. The gate is a pure function of |percentages|
# over the budget below.
_FREQ_CELL_BUDGET = 30_000_000


def _max_distinct(n_pcts: int) -> int:
    return _FREQ_CELL_BUDGET // (30 + n_pcts)


def exact_percentiles(
    df: DataFrame,
    part_cols: list[str],
    value_col: str,
    percentages: list[float],
    counts: DataFrame | None = None,
    out_col: str = "pcts",
) -> DataFrame:
    """Per-``part_cols``-group exact type-7 percentiles of ``value_col``
    — BIT-IDENTICAL to Spark's ``groupBy(...).agg(percentile(value,
    array(...)))`` but computed distributed. Returns one row per group:
    ``part_cols + [out_col: array<double>]`` in ``percentages`` order
    (``part_cols=[]`` → one global row).

    Spark's exact ``percentile`` buffers EVERY value of a group in one
    hash map and merges the group's whole multiset on a single reducer —
    measured SUPERLINEAR in distinct values (1M doubles: 24.4 s, 3M:
    220 s, 10M: DNF — PLANS.md r11) with group-proportional single-task
    memory: a hard wall for continuous values under few groups (the
    per-event-type / per-language shapes). Reconstruction from counts:

    1. distinct (group, value) counts — a distributed hash agg;
    2. per-group running count over the distinct values via
       ``chunked_running_sum`` ordered by ``[value_col]`` (ordered
       chunks sorted in parallel, never one group per task) — each
       distinct value owns the sorted-index span [cum−cnt, cum) of its
       group;
    3. per group, the 2·|percentages| probe indices (lower/upper
       neighbours of ``pos = p·(N−1)``) joined against those spans —
       each probe hits exactly one span;
    4. interpolate with Spark ``percentile``'s own arithmetic —
       ``v_lo`` when the span covers both neighbours (ties
       short-circuit; ``v·(1−f)+v·f`` would lose a ulp), else
       ``v_lo·(1−f) + v_hi·f`` — empirically pinned bit-equal against
       ``F.expr("percentile(...)")`` on randomized frames, global and
       grouped (tests/test_sampling.py).

    Regime dispatch (r12): one eager stats pass over the persisted
    distinct-counts frame measures the max per-group distinct-value
    count, then
    - max distinct ≤ ``_max_distinct(|ps|)`` (~30M/(30+|ps|): ≈1M for
      a median, ≈230k for a 101-point grid —
      the measured crossover, see the module constant) → frequency-
      weighted ``percentile(value, ps, greatest(_gcnt, 1L))`` over the
      counts frame: each reducer buffers at most the small per-group
      distinct map, and the running-sum/probe machinery would cost more
      than it saves (the r12 bench measured value_outliers_mad
      0.68→14.8 s without this gate);
    - else → the reconstruction above (the genuine cliff regime). Its
      probe join carries no hint: AQE broadcasts the probe frame while
      it is small and shuffles it on the group key when it is not.
    All paths are bit-equal (regime-pinned in tests/test_sampling.py).

    NULL semantics match ``percentile()`` exactly (r11 ADVICE): NULL
    values are skipped (their counts are zeroed, so they shift no index
    span), while their GROUP survives — a group whose values are all
    NULL yields a row with NULL ``out_col``, and an empty/all-NULL input
    with ``part_cols=[]`` yields the single NULL row the global aggregate
    produces.

    ``counts``: optional pre-aggregated ``part_cols + [value_col,
    _gcnt]`` frame standing in for step 1 — pass it when the caller
    already holds value counts (quantile_normalize folds this off its
    persisted rank frame, so the score expression evaluates once).
    Contract: one row per distinct (group, value) with ``_gcnt >= 1``;
    NULL-value rows are permitted and treated as above.

    **Eager contract (r12 ADVICE)**: unlike most operators in this
    package, CALLING this function runs a Spark job immediately — the
    regime dispatch needs the max per-group distinct count before it
    can choose a plan, so the counts frame is persisted (via
    ``tracked_persist``, released by the session's cache manager) and a
    one-row stats aggregate executes at construction time. Plan-only
    contexts (dry runs, plan tests) therefore touch the cluster; the
    persist is NOT released on the fast frequency path because the
    returned plan still reads the materialized counts frame — releasing
    it would re-scan the corpus at action time.
    """
    from .window_funcs import chunked_running_sum

    base = (
        counts
        if counts is not None
        else df.groupBy(*part_cols, value_col).agg(
            F.count(F.lit(1)).alias("_gcnt")
        )
    )
    # percentile() skips NULL values but keeps their group: zero the NULL
    # rows' counts (they sort first in the running sum, own an empty index
    # span, and leave every real value's span untouched) instead of
    # filtering, so all-NULL groups still reach the totals frame.
    gvals = base.withColumn(
        "_gcnt",
        F.when(F.col(value_col).isNull(), F.lit(0)).otherwise(F.col("_gcnt")),
    )
    if counts is None:
        # both regimes read the distinct-counts frame at least twice
        # (stats pass + aggregate/running sum); caller-supplied counts
        # frames manage their own persistence (quantile_normalize folds
        # off an already-persisted rank frame)
        gvals = tracked_persist(gvals)
    # one eager stats pass: the max per-group distinct count drives the
    # regime choice (the frame is persisted — this is the same
    # materialization the final action would pay anyway)
    st = (
        gvals.groupBy(*part_cols)
        .agg(
            F.sum(
                F.when(F.col(value_col).isNotNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("_nd")
        )
        .agg(F.max("_nd").alias("_mx"))
        .head()
    )
    if (st["_mx"] or 0) <= _max_distinct(len(percentages)):
        # frequency-weighted aggregate over the counts frame: parallel at
        # any group cardinality, and below the distinct budget each
        # reducer's per-group map is small (the measured crossover)
        ps_sql = ", ".join(repr(float(p)) for p in percentages)
        return gvals.groupBy(*part_cols).agg(
            F.expr(
                f"percentile(`{value_col}`, array({ps_sql}), "
                "greatest(_gcnt, 1L))"
            ).alias(out_col)
        )
    grun = chunked_running_sum(gvals, part_cols, [value_col], "_gcnt", "_gcum")
    t_keys = [f"_t_g{i}" for i in range(len(part_cols))]
    totals = grun.groupBy(
        *[F.col(c).alias(k) for c, k in zip(part_cols, t_keys)]
    ).agg(F.max("_gcum").alias("_N"))
    ps_arr = F.array(*[F.lit(float(p)) for p in percentages])
    probe = (
        totals.filter(F.col("_N") > 0)
        .select(*t_keys, "_N", F.posexplode(ps_arr).alias("_i", "_p"))
        .select(
            *t_keys,
            "_i",
            "_N",
            (F.col("_p") * (F.col("_N") - 1).cast("double")).alias("_pos"),
        )
        .select(
            *t_keys,
            "_i",
            (F.col("_pos") - F.floor("_pos")).alias("_f"),
            F.floor("_pos").cast("long").alias("_lo"),
            F.least(F.floor("_pos").cast("long") + 1, F.col("_N") - 1).alias("_hi"),
        )
    )
    probes = probe.select(
        *t_keys,
        "_i",
        "_f",
        F.explode(
            F.array(
                F.struct(F.lit("lo").alias("_which"), F.col("_lo").alias("_idx")),
                F.struct(F.lit("hi").alias("_which"), F.col("_hi").alias("_idx")),
            )
        ).alias("_e"),
    ).select(
        *t_keys, "_i", "_f",
        F.col("_e._which").alias("_which"),
        F.col("_e._idx").alias("_idx"),
    )
    cond = (F.col("_idx") >= F.col("_gcum") - F.col("_gcnt")) & (
        F.col("_idx") < F.col("_gcum")
    )
    for c, k in zip(part_cols, t_keys):
        cond = F.col(c).eqNullSafe(F.col(k)) & cond
    matched = grun.join(probes, cond)
    point = F.when(F.col("_vlo") == F.col("_vhi"), F.col("_vlo")).otherwise(
        F.col("_vlo") * (F.lit(1.0) - F.col("_f")) + F.col("_vhi") * F.col("_f")
    )
    res = (
        matched.groupBy(*part_cols, "_i", "_f")
        .agg(
            F.min(F.when(F.col("_which") == "lo", F.col(value_col))).alias("_vlo"),
            F.min(F.when(F.col("_which") == "hi", F.col(value_col))).alias("_vhi"),
        )
        .groupBy(*part_cols)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_i"), point.alias("_gv")))
            ).alias("_ss")
        )
        .select(
            *part_cols,
            # empty _ss = no non-null values at all (global case): the
            # aggregate's answer is NULL, not an empty array
            F.when(
                F.size("_ss") > 0, F.transform("_ss", lambda s: s["_gv"])
            ).alias(out_col),
        )
    )
    if not part_cols:
        return res
    # restore groups whose values were all NULL with the NULL row
    # percentile() emits for them — the match join only produces probed
    # (_N > 0) groups. res is one row per group, so AQE picks the
    # restore join's strategy from its runtime size.
    cond2 = None
    for c, k in zip(part_cols, t_keys):
        e = F.col(k).eqNullSafe(F.col(c))
        cond2 = e if cond2 is None else cond2 & e
    return totals.join(res, cond2, "left").select(
        *[F.col(k).alias(c) for c, k in zip(part_cols, t_keys)], out_col
    )


def grouped_median_mad(
    df: DataFrame,
    part_cols: list[str],
    value_col: str,
    med_col: str = "med",
    mad_col: str = "mad",
) -> DataFrame:
    """Per-group robust stats dim: exact median and MAD (median absolute
    deviation) of ``value_col`` — the broadcast side of the
    ``|x − median| > k·MAD`` outlier screen (value_outliers_mad and its
    stream-static twin).

    ``F.median`` IS Spark's exact ``Percentile(0.5)`` — per-group it
    buffers the whole multiset on one reducer (the r11-measured
    superlinear cliff for few-group/continuous-value frames), so both
    medians ride ``exact_percentiles`` instead: bit-equal by that
    function's pinned property, every intermediate bounded, and its
    distinct-count dispatch keeps the small regime at vanilla speed.

    One corpus pass (r12: the first cut re-scanned ``df`` for the
    deviation median and cost value_outliers_mad 0.68→14.8 s at sf0.1):
    the (group, value) counts frame is persisted once; the deviation
    counts DERIVE from it post-aggregation (|v − med| collapses distinct
    values, summing their counts), so the second percentile never
    touches the corpus. Returns one row per group: ``part_cols +
    [med_col, mad_col]`` (all-NULL groups carry NULL stats, matching the
    ``groupBy().agg(median)`` they replace).
    """
    cnts = tracked_persist(
        df.groupBy(*part_cols, value_col).agg(F.count(F.lit(1)).alias("_gcnt"))
    )
    med = exact_percentiles(
        cnts, part_cols, value_col, [0.5], counts=cnts, out_col="_m"
    ).select(*part_cols, F.element_at("_m", 1).alias(med_col))
    dcond = None
    d_keys = [f"_d_g{i}" for i in range(len(part_cols))]
    med_k = med.select(
        *[F.col(c).alias(k) for c, k in zip(part_cols, d_keys)], med_col
    )
    for c, k in zip(part_cols, d_keys):
        e = F.col(c).eqNullSafe(F.col(k))
        dcond = e if dcond is None else dcond & e
    if dcond is None:
        # part_cols=[] (global stats): med/mad are single rows, so the
        # "join" is an explicit 1-row broadcast NLJ — F.lit(True) makes
        # that intent visible instead of riding an implicit cross join
        # (r12 ADVICE)
        dcond = F.lit(True)
    # persisted: a caller-supplied counts frame is read twice inside
    # exact_percentiles (the eager stats pass + the aggregate/running
    # sum) — unpersisted, the 30M-row derivation ran twice (r12 proof)
    dev_cnts = tracked_persist(
        cnts.join(med_k, dcond)
        .select(
            *part_cols,
            F.abs(F.col(value_col) - F.col(med_col)).alias("_dev"),
            "_gcnt",
        )
        .groupBy(*part_cols, "_dev")
        .agg(F.sum("_gcnt").alias("_gcnt"))
    )
    mad = exact_percentiles(
        dev_cnts, part_cols, "_dev", [0.5], counts=dev_cnts, out_col="_d"
    ).select(
        *[F.col(c).alias(k) for c, k in zip(part_cols, d_keys)],
        F.element_at("_d", 1).alias(mad_col),
    )
    return med.join(mad, dcond).select(*part_cols, med_col, mad_col)


def exact_percentile_grid(
    df: DataFrame,
    score_col: str,
    grid_points: int,
    counts: DataFrame | None = None,
) -> DataFrame:
    """1-row frame with ``grid``: the ``grid_points``-point exact global
    percentile grid of ``score_col`` — ``exact_percentiles`` with
    ``part_cols=[]`` at the evenly spaced grid percentages."""
    ps = [i / (grid_points - 1) for i in range(grid_points)]
    return exact_percentiles(
        df, [], score_col, ps, counts=counts, out_col="grid"
    )


def quantile_normalize(
    df: DataFrame,
    score_col: str,
    group_col: str,
    id_col: str,
    grid_points: int = 101,
    round_digits: int = 6,
) -> DataFrame:
    """Cross-group quantile normalization of a score column: map each
    row's WITHIN-group percentile rank onto the GLOBAL score
    distribution, so scores from differently-calibrated scorers (one
    quality model per source/language is the corpus-mixing norm) become
    comparable before any global threshold or mixing step — filtering
    raw scores across sources silently over-prunes whichever source's
    scorer runs pessimistic.

    Returns (id, group, score, calibrated): ``calibrated`` is the global
    exact-percentile value at the row's within-group percent_rank,
    linearly interpolated on a ``grid_points``-point global quantile
    grid.

    Scale shape: the global grid is ``exact_percentile_grid`` — the
    same values Spark's exact ``percentile`` aggregate produces, but
    reconstructed from distinct-score counts with every intermediate
    bounded (Spark's own implementation buffers the whole column on one
    reducer; see that function's docstring) — carried as a broadcast
    1-row array. The within-group percent_rank is
    COUNT-BASED (r11 — this closes the few-groups window-skew caveat
    the r10 version documented): rank depends only on (group, score),
    so a (group, score) hash agg collapses the corpus to its distinct
    score values, the running count and group total over those values
    come from ``window_funcs.chunked_running_sum`` (ordered chunks sort
    in parallel, so the worst task stays bounded even when scores are
    continuous full-precision doubles and the distinct frame approaches
    corpus size), and rows join back on (group, score) — a well-spread key,
    unlike the few-groups partition. No global sort of the corpus — the
    grid bounds the global-distribution cost at |grid| regardless of
    corpus size.

    Determinism: percent_rank is tie-stable by definition (equal scores
    share a rank); grid interpolation is fixed-form arithmetic on the
    grid values, which both Spark ``percentile`` and an exact SQL
    quantile (linear interpolation at p·(n−1)) compute identically;
    output rounds (+0.0 canonicalizes negative zero). NULL scores are
    dropped up front (r10 ADVICE): engines disagree on where NULL sorts
    in a rank window (Spark first, DuckDB last) while ``percentile``
    skips them — a NULL score has no percentile, so it has no calibrated
    value; left-join the output back to recover unscored rows.
    """
    df = df.filter(F.col(score_col).isNotNull())
    # count-based percent_rank: (rows-below) / (n_group - 1) — identical
    # to the window definition (rank - 1 = rows with a smaller score,
    # ties share the rank), but computed over DISTINCT (group, score).
    # The running count itself rides chunked_running_sum (r11: even the
    # distinct-values frame is unbounded when scores are continuous
    # full-precision doubles — distinct (group, score) then approaches
    # corpus size and a per-group window would be single-task again),
    # which also carries each group's total.
    from .window_funcs import chunked_running_sum

    vals = df.groupBy(group_col, score_col).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    run = chunked_running_sum(vals, [group_col], [score_col], "_cnt", "_run")
    # exact type-7 grid, reconstructed distributed — Spark's own
    # percentile() buffers every value on one reducer (superlinear in
    # distinct scores, measured in PLANS.md r11); bit-equal by test.
    # Global value counts fold off the rank path's persisted frame, so
    # the score expression evaluates over the corpus exactly once.
    grid = exact_percentile_grid(
        df,
        score_col,
        grid_points,
        counts=run.groupBy(score_col).agg(F.sum("_cnt").alias("_gcnt")),
    )
    pranked = run.select(
        group_col,
        score_col,
        F.when(
            F.col("_total") > 1,
            (F.col("_run") - F.col("_cnt")) / (F.col("_total") - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("_p"),
    )
    # null-safe restore join: a NULL group key is a legitimate group (it
    # rode eqNullSafe through the rank path above) — plain list-equality
    # here silently dropped its rows (r11 ADVICE). Scores are non-null
    # (filtered up front), but ride eqNullSafe too for uniformity.
    pr = pranked.select(
        F.col(group_col).alias("_pr_g"),
        F.col(score_col).alias("_pr_s"),
        "_p",
    )
    ranked = df.select(F.col(id_col), F.col(group_col), F.col(score_col)).join(
        pr,
        F.col(group_col).eqNullSafe(F.col("_pr_g"))
        & F.col(score_col).eqNullSafe(F.col("_pr_s")),
    )
    k = F.floor(F.col("_p") * (grid_points - 1)).cast("int")
    k2 = F.least(k + 1, F.lit(grid_points - 1))
    frac = F.col("_p") * (grid_points - 1) - k.cast("double")
    cal = (
        F.element_at("grid", k + 1)
        + frac * (F.element_at("grid", k2 + 1) - F.element_at("grid", k + 1))
    )
    return (
        ranked.crossJoin(grid)
        .select(
            id_col,
            group_col,
            score_col,
            (F.round(cal, round_digits) + F.lit(0.0)).alias("calibrated"),
        )
        .orderBy(id_col)
    )
