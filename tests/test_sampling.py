"""Semantics tests for dataset-selection operators (operators/sampling.py).

The oracle parity tests (test_oracle_parity) already hash-check values; here
we pin the PROPERTIES the operators promise: determinism, budget bounds,
priority keep-rules, and split stability.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import sampling
from live_social_media_sentiment_trend_tracker_using_kafka_spark.sources.readers import table

from conftest import SF_SMOKE, at_widths


def test_hash_split_is_deterministic_and_total(spark):
    docs = table(spark, "documents", SF_SMOKE)
    a = sampling.hash_split(docs).orderBy("doc_id").collect()
    b = sampling.hash_split(docs.repartition(7)).orderBy("doc_id").collect()
    assert [(r.doc_id, r.split) for r in a] == [(r.doc_id, r.split) for r in b]
    assert len(a) == docs.count()
    assert {r.split for r in a} <= {"train", "val", "test"}


def test_hash_split_fractions_roughly_hold(spark):
    docs = table(spark, "documents", SF_SMOKE)
    n = docs.count()
    counts = {r.split: r.n for r in sampling.hash_split(docs).groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts.get("train", 0) / n > 0.8  # 90% nominal, wide tolerance at small n


def test_split_thresholds_validation():
    with pytest.raises(ValueError):
        sampling.split_thresholds({"train": 0.5, "val": 0.1})


def test_token_budget_mix_respects_budgets(spark):
    docs = table(spark, "documents", SF_SMOKE)
    budgets = {"src0": 400, "src1": 150}
    out = sampling.token_budget_mix(docs, budgets).collect()
    per_source: dict[str, int] = {}
    for r in out:
        per_source[r.source] = max(per_source.get(r.source, 0), r.cum_tokens)
    for src, cap in budgets.items():
        assert per_source.get(src, 0) <= cap
    assert {r.source for r in out} <= set(budgets)
    # deterministic under repartition
    again = sampling.token_budget_mix(docs.repartition(5), budgets).collect()
    assert sorted((r.doc_id, r.cum_tokens) for r in out) == sorted(
        (r.doc_id, r.cum_tokens) for r in again
    )


def test_quality_percentile_filter_keeps_at_least_half_per_lang(spark):
    docs = table(spark, "documents", SF_SMOKE)
    kept = sampling.quality_percentile_filter(docs, pct=0.5)
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    kept_counts = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, total in totals.items():
        # >= pct of each group survives a pct-percentile cutoff (ties can
        # push it higher, never lower)
        assert kept_counts.get(lang, 0) >= total // 2, lang
    # every kept row clears its own cutoff by construction
    assert kept.filter(F.col("quality_score") < F.col("cutoff")).count() == 0


def test_priority_source_dedup_keep_rules(spark):
    rows = [
        (1, "web", "same text here"),
        (2, "curated", "same text here"),
        (3, "web", "same text here"),
        (4, "web", "unique text"),
        (5, "scrape", "other  TEXT"),
        (6, "web", "other text"),  # fingerprint-equal to 5 after normalize
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kept = {r.doc_id: r for r in sampling.priority_source_dedup(df, priority=["curated", "web"]).collect()}
    assert set(kept) == {2, 4, 6}       # curated beats web; web beats scrape
    assert kept[2].dup_count == 3
    assert kept[6].dup_count == 2


def test_hash_split_degenerate_zero_fraction_tail(spark):
    docs = table(spark, "documents", SF_SMOKE)
    out = sampling.hash_split(docs, {"all": 1.0, "none": 0.0})
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts.get("all", 0) == docs.count()
    assert counts.get("none", 0) == 0


def test_token_budget_mix_chunked_equals_single_window(spark):
    """The chunked running sum must reproduce the naive
    one-window-per-source cumulative sum over (md5(id), id) EXACTLY, at
    every chunk width."""
    from pyspark.sql import Window

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions.text import (
        token_count_col,
    )

    docs = table(spark, "documents", SF_SMOKE)
    budgets = {"src0": 400, "src1": 150, "src2": 999999}
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    naive = (
        docs.select("doc_id", "source", token_count_col(F.col("text")).alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(
            F.col("cum_tokens")
            <= F.coalesce(*[F.when(F.col("source") == s, b) for s, b in budgets.items()])
        )
    )
    key = lambda rows: sorted((r.doc_id, r.source, r.n_tokens, r.cum_tokens) for r in rows)
    want = key(naive.collect())
    assert len({r[1] for r in want}) == 3  # every budget binds or admits rows
    for got in at_widths(spark, lambda: sampling.token_budget_mix(docs, budgets)):
        assert key(got) == want


def test_temperature_mix_alpha_extremes(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sampling import (
        temperature_mix,
    )

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    # alpha=1: proportional -> quotas 90%/10% of 50
    prop = temperature_mix(df, "source", alpha=1.0, total_docs=50).groupBy("source").count()
    got = {r.source: r["count"] for r in prop.collect()}
    assert got == {"big": 45, "small": 5}
    # alpha=0: uniform by group -> 25 each (small capped by its 10 rows)
    uni = temperature_mix(df, "source", alpha=0.0, total_docs=50).groupBy("source").count()
    got = {r.source: r["count"] for r in uni.collect()}
    assert got == {"big": 25, "small": 10}  # rank cap: can't sample more than exists
    # determinism: same pick twice
    a = sorted(r.doc_id for r in temperature_mix(df, "source", 0.5, 40).collect())
    b = sorted(r.doc_id for r in temperature_mix(df, "source", 0.5, 40).collect())
    assert a == b


def test_capped_group_sample_equals_naive_window(spark):
    """The distributed chunked rank must keep EXACTLY the rows the naive
    per-group window would (same md5 order), for caps that bite, don't
    bite, and exceed every group — plus null-group rows are kept/capped
    like any other group, and determinism across reruns."""
    from pyspark.sql import Window

    rows = [(i, "big") for i in range(40)] + [(100 + i, "small") for i in range(5)]
    rows += [(200 + i, None) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def naive(cap):
        w = Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
        return sorted(
            (r.doc_id, r.source)
            for r in df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= cap)
            .select("doc_id", "source")
            .collect()
        )

    for cap in (3, 5, 100):
        for got in at_widths(spark, lambda: sampling.capped_group_sample(df, "source", cap)):
            assert sorted((r.doc_id, r.source) for r in got) == naive(cap), f"cap={cap}"
    # counts: the cap binds per group
    kept = sampling.capped_group_sample(df, "source", 6)
    sizes = {r.source: r["count"] for r in kept.groupBy("source").count().collect()}
    assert sizes == {"big": 6, "small": 5, None: 6}
    # determinism
    a = [tuple(r) for r in sampling.capped_group_sample(df, "source", 6).collect()]
    b = [tuple(r) for r in sampling.capped_group_sample(df, "source", 6).collect()]
    assert a == b


def test_capped_group_sample_empty_input(spark):
    df = spark.createDataFrame([], "doc_id long, source string")
    assert sampling.capped_group_sample(df, "source", 3).count() == 0


def test_split_leakage_detects_planted_straddlers(spark):
    """Hand fixture: two identical texts whose ids md5-hash to opposite
    sides of the 50/50 cut must surface as ONE leaking group; same-side
    twins and unique texts must not. The planted-contract ids (1,5,6,7
    straddle at +1e6) are pinned here so the driver query's 4-row output
    stays explainable."""
    import hashlib

    def side(i):
        return "train" if hashlib.md5(str(i).encode()).hexdigest()[:4] < "8000" else "test"

    # find a straddling and a same-side id pair deterministically
    straddle = next(i for i in range(100) if side(i) != side(1_000_000 + i))
    same = next(i for i in range(100) if side(i) == side(1_000_000 + i))
    rows = [
        (straddle, "leaky text shared verbatim"),
        (1_000_000 + straddle, "leaky text shared verbatim"),
        (same, "benign duplicate same side"),
        (1_000_000 + same, "benign duplicate same side"),
        (42_000, "unique text nothing repeats"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sampling.split_leakage(df, fractions={"train": 0.5, "test": 0.5}).collect()
    assert len(got) == 1
    assert got[0].n_docs == 2 and got[0].n_splits == 2 and got[0].splits == "test,train"
    # the driver query's planted contract: ids 1,5,6,7 straddle at +1e6
    assert [i for i in range(8) if side(i) != side(1_000_000 + i)] == [1, 5, 6, 7]


def test_cluster_safe_split_no_near_dup_leakage(spark):
    """The leakage-proof property itself: members of one component always
    share a split; docs outside any component are singletons whose split
    equals plain hash_split of their own id."""
    from pyspark.sql import functions as F

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sampling import (
        cluster_safe_split,
        hash_split,
    )

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    # components welding pairs (i, i+100) for i < 50, labeled by min id
    comps = spark.createDataFrame(
        [(i, i) for i in range(50)] + [(i + 100, i) for i in range(50)],
        "node long, component long",
    )
    out = cluster_safe_split(docs, comps).collect()
    split_of = {r.doc_id: r.split for r in out}
    comp_of = {r.doc_id: r.component for r in out}
    assert len(out) == 200
    for i in range(50):
        assert split_of[i] == split_of[i + 100], i  # welded pair never straddles
        assert comp_of[i] == comp_of[i + 100] == i
    # singletons: component = own id, split identical to hash_split
    plain = {r.doc_id: r.split for r in hash_split(docs).collect()}
    for i in range(50, 100):
        assert comp_of[i] == i and split_of[i] == plain[i]
    # all three splits are in play across 200 docs (fractions sane)
    assert {"train", "val", "test"} == set(split_of.values())


def test_epoch_shard_plan_rejects_degenerate_inputs(spark):
    """epochs < 1 would make sequence(1, epochs) DESCEND (a silent 2x-row
    bogus plan); n_shards < 1 nulls every shard — both must raise."""
    import pytest

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sampling import (
        epoch_shard_plan,
    )

    docs = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="epochs"):
        epoch_shard_plan(docs, n_shards=4, epochs=0)
    with pytest.raises(ValueError, match="n_shards"):
        epoch_shard_plan(docs, n_shards=0, epochs=1)


def test_weighted_sample_matches_reference_implementation(spark):
    """The A-ES draw must agree row-for-row with an independent local
    implementation of the same construction (md5-derived u, key=ln(u)/w,
    top-n) — pinning the algorithm, not just determinism."""
    import hashlib
    import math

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sampling import (
        weighted_sample,
    )

    rows = [(i, (i * 37) % 23 + (0 if i % 11 else -5)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = [(r.sample_rank, r.doc_id, r.w) for r in weighted_sample(df, "w", n=25, id_col="doc_id").collect()]

    def key(i, w):
        u = (int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) + 0.5) / 2**32
        return math.log(u) / w

    ref = sorted(((i, w) for i, w in rows if w > 0), key=lambda t: (-key(*t), t[0]))[:25]
    want = [(rk + 1, i, w) for rk, (i, w) in enumerate(ref)]
    assert got == want
    # non-positive weights never sampled
    assert all(w > 0 for _, _, w in got)


def test_weighted_sample_is_weight_sensitive(spark):
    """A heavy row must displace light rows it would lose to uniformly:
    give one row 1000x the weight of the rest and it must be sampled."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sampling import (
        weighted_sample,
    )

    rows = [(i, 100000 if i == 123 else 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = {r.doc_id for r in weighted_sample(df, "w", n=10).collect()}
    assert 123 in got


def test_quantile_normalize_calibrates_pessimistic_scorer(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sampling import quantile_normalize

    # group A scores ~ [0.8..0.95], group B's scorer is pessimistic:
    # same underlying ranking but scores ~ [0.1..0.25]
    rows = [(i, "A", 0.8 + i * 0.015) for i in range(11)]
    rows += [(100 + i, "B", 0.1 + i * 0.015) for i in range(11)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = {r.doc_id: r for r in quantile_normalize(df, "score", "source", "doc_id").collect()}
    # within each group, calibration preserves the ranking (monotone)
    for g, ids in (("A", range(11)), ("B", range(100, 111))):
        cal = [out[i].calibrated for i in ids]
        assert cal == sorted(cal), (g, cal)
    # the two groups' TOP documents calibrate to the same global value
    # (both sit at within-group percentile 1.0)
    assert out[10].calibrated == out[110].calibrated
    # ...and B's top doc is boosted far above its raw pessimistic score
    assert out[110].calibrated > out[110].score + 0.3
    # bottom docs likewise meet at percentile 0.0
    assert out[0].calibrated == out[100].calibrated


def test_quantile_normalize_drops_null_scores(spark):
    """NULL scores have no percentile: they must be excluded up front
    (engines disagree on NULL rank order — r10 ADVICE), and their
    presence must not shift any non-null row's calibration."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sampling import quantile_normalize

    rows = [(i, "a" if i % 2 else "b", float(i)) for i in range(1, 21)]
    clean = spark.createDataFrame(rows, ["doc_id", "source", "score"])
    dirty = clean.union(
        spark.createDataFrame(
            [(100, "a", None), (101, "b", None)],
            schema=clean.schema,
        )
    )
    base = {r.doc_id: r.calibrated for r in quantile_normalize(clean, "score", "source", "doc_id").collect()}
    out = {r.doc_id: r.calibrated for r in quantile_normalize(dirty, "score", "source", "doc_id").collect()}
    assert out == base  # nulls absent, non-null calibration unchanged


def test_quantile_normalize_null_group_carried(spark):
    """A NULL group key is a legitimate group (rows with no source tag):
    its rows must survive the final restore join (r11 ADVICE — plain
    list-equality dropped them) and calibrate exactly like the same data
    under a real group name."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sampling import quantile_normalize

    rows = [(i, "a", float(i)) for i in range(10)]
    rows += [(100 + i, None, float(i) * 0.5) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = {r.doc_id: r for r in quantile_normalize(df, "score", "source", "doc_id").collect()}
    assert len(out) == 20, sorted(out)  # NULL-group rows present
    # relabel NULL -> "z": identical calibration (NULL is just a group)
    relabeled = df.withColumn("source", F.coalesce("source", F.lit("z")))
    want = {r.doc_id: r.calibrated for r in quantile_normalize(relabeled, "score", "source", "doc_id").collect()}
    assert {i: r.calibrated for i, r in out.items()} == want
    assert all(out[100 + i].source is None for i in range(10))


from contextlib import contextmanager


@contextmanager
def _force_reconstruction():
    """Pin exact_percentiles to the RECONSTRUCTION regime: the r12
    distinct-count dispatch routes every small frame to the (trivially
    bit-equal) frequency-weighted percentile(), so suite-scale tests of
    the reconstruction machinery force it by zeroing the distinct gate."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(sampling, "_max_distinct", lambda n_pcts: 0)
        yield


def test_exact_percentile_grid_bit_equal_to_spark_percentile(spark):
    """The distributed grid reconstruction must be BIT-equal to Spark's
    exact percentile() aggregate — including tie spans, where Spark
    short-circuits to the value instead of interpolating (v*(1-f)+v*f
    loses a ulp). Randomized frames incl. N=1, N=2, heavy ties.
    Reconstruction is FORCED via the dispatch conf (the default regime
    for these sizes is Spark's own frequency-weighted aggregate); one
    default-dispatch case pins the regimes against each other."""
    import random

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sampling import (
        exact_percentile_grid,
    )

    rng = random.Random(11)
    cases = [[0.5], [0.25, 0.75]]
    for _ in range(4):
        n = rng.randrange(3, 50)
        xs = [rng.choice([rng.random(), round(rng.random(), 1)]) for _ in range(n)]
        cases.append(xs)
    with _force_reconstruction():
        for gp in (5, 101):
            for xs in cases:
                df = spark.createDataFrame([(x,) for x in xs], "score double")
                ps = [i / (gp - 1) for i in range(gp)]
                want = df.agg(
                    F.expr(
                        f"percentile(score, array({', '.join(repr(p) for p in ps)}))"
                    ).alias("g")
                ).collect()[0]["g"]
                got = exact_percentile_grid(df, "score", gp).collect()[0]["grid"]
                assert list(got) == list(want), (gp, xs[:5], len(xs))
    # default dispatch (frequency regime at this size) == forced recon
    df = spark.createDataFrame([(x,) for x in cases[-1]], "score double")
    default_grid = exact_percentile_grid(df, "score", 5).collect()[0]["grid"]
    with _force_reconstruction():
        forced_grid = exact_percentile_grid(df, "score", 5).collect()[0]["grid"]
    assert list(default_grid) == list(forced_grid)


def test_exact_percentiles_global_null_parity(spark):
    """Global reconstruction matches percentile()'s NULL contract (r11
    ADVICE): NULL values are skipped — they must not inflate N or shift
    any index span — and an all-NULL (or empty) input yields the single
    NULL row the global aggregate produces, not zero rows."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sampling import (
        exact_percentile_grid,
    )

    from contextlib import nullcontext

    mixed = spark.createDataFrame(
        [(x,) for x in [3.0, None, 1.0, None, 2.0, 4.0, None]], "score double"
    )
    want = mixed.agg(F.expr("percentile(score, array(0.0, 0.25, 0.5, 0.75, 1.0))")).collect()[0][0]
    for forced in (False, True):
        with _force_reconstruction() if forced else nullcontext():
            got = exact_percentile_grid(mixed, "score", 5).collect()[0]["grid"]
            assert list(got) == list(want), forced
            for frame in (
                spark.createDataFrame([(None,), (None,)], "score double"),
                spark.createDataFrame([], "score double"),
            ):
                rows = exact_percentile_grid(frame, "score", 5).collect()
                assert len(rows) == 1 and rows[0]["grid"] is None, (forced, rows)


def test_exact_percentiles_grouped_bit_equal(spark):
    """Grouped reconstruction == groupBy().agg(percentile(...)) bit-for-
    bit, incl. NULL group keys, single-row groups, arbitrary (unsorted)
    percentage lists."""
    import random

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sampling import (
        exact_percentiles,
    )

    rng = random.Random(23)
    rows = []
    for g in ("a", "b", None):
        n = {"a": 17, "b": 1, None: 29}[g]
        rows += [(g, rng.choice([rng.random(), round(rng.random(), 1)])) for _ in range(n)]
    # NULL values sprinkled into real groups must be skipped exactly like
    # percentile() skips them, and an all-NULL group must still emit its
    # row with a NULL result (r11 ADVICE)
    rows += [("a", None), (None, None), ("allnull", None), ("allnull", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    ps = [0.5, 0.05, 0.99, 0.25]
    want = {
        r["g"]: list(r["w"]) if r["w"] is not None else None
        for r in df.groupBy("g")
        .agg(F.expr(f"percentile(v, array({', '.join(repr(p) for p in ps)}))").alias("w"))
        .collect()
    }
    from contextlib import nullcontext

    for forced in (False, True):
        with _force_reconstruction() if forced else nullcontext():
            got = {
                r["g"]: list(r["pcts"]) if r["pcts"] is not None else None
                for r in exact_percentiles(df, ["g"], "v", ps).collect()
            }
        assert got == want, forced
        assert got["allnull"] is None


def test_exact_percentiles_high_cardinality_fallback(spark):
    """Below the distinct budget the function takes the vanilla
    frequency-weighted percentile() over the counts frame at any group
    count, producing the reconstruction's values. No group-count gate
    exists (the probe join's strategy is AQE's), so nothing warns."""
    import warnings

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sampling import (
        exact_percentiles,
    )

    rows = [(f"g{i % 7}", float((i * 37) % 100)) for i in range(200)]
    rows += [("g3", None), ("gnull", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    ps = [0.25, 0.5, 0.75]
    with _force_reconstruction():
        recon = {
            r["g"]: None if r["pcts"] is None else list(r["pcts"])
            for r in exact_percentiles(df, ["g"], "v", ps).collect()
        }
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        fb = {
            r["g"]: None if r["pcts"] is None else list(r["pcts"])
            for r in exact_percentiles(df, ["g"], "v", ps).collect()
        }
    assert not [w for w in caught if "exact_percentiles" in str(w.message)]
    assert fb == recon
    assert fb["gnull"] is None


def test_grouped_median_mad_bit_equal_to_f_median(spark):
    """grouped_median_mad must reproduce the F.median/F.median(|x-med|)
    formulation bit-for-bit (F.median IS exact Percentile(0.5) — the
    few-group cliff this helper exists to avoid), incl. NULL values,
    NULL group keys, and single-row groups."""
    import random

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sampling import grouped_median_mad

    rng = random.Random(7)
    rows = [
        (rng.choice(["a", "b", "c", None]),
         rng.choice([rng.random() * 10, round(rng.random(), 1), None]))
        for _ in range(300)
    ] + [("solo", 4.25)]
    df = spark.createDataFrame(rows, "g string, v double")
    med = df.groupBy("g").agg(F.median("v").alias("med"))
    want = {
        r["g"]: (r["med"], r["mad"])
        for r in df.join(med.hint("broadcast"), df["g"].eqNullSafe(med["g"]))
        .drop(med["g"])
        .groupBy("g")
        .agg(
            F.first("med").alias("med"),
            F.median(F.abs(F.col("v") - F.col("med"))).alias("mad"),
        )
        .collect()
    }
    from contextlib import nullcontext

    for forced in (False, True):
        with _force_reconstruction() if forced else nullcontext():
            got = {
                r["g"]: (r["med"], r["mad"])
                for r in grouped_median_mad(df, ["g"], "v").collect()
            }
        assert got == want, forced


def test_exact_percentiles_skewed_many_groups_regime(spark, monkeypatch):
    """Many groups AND a skewed group over the distinct budget (r12
    self-review): the frequency fallback would re-enter the
    single-reducer cliff, so the function must run the reconstruction,
    without a warning, and still be bit-equal to percentile()."""
    import warnings

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sampling import (
        exact_percentiles,
    )

    # 6 groups; g0 skewed with 40 distinct values, others 3 each
    rows = [("g0", float(i) * 1.25) for i in range(40)]
    for g in range(1, 6):
        rows += [(f"g{g}", float(j)) for j in range(3)]
    df = spark.createDataFrame(rows, "g string, v double")
    ps = [0.25, 0.5, 0.9]
    want = {
        r["g"]: list(r["w"])
        for r in df.groupBy("g")
        .agg(F.expr(f"percentile(v, array({', '.join(repr(p) for p in ps)}))").alias("w"))
        .collect()
    }
    monkeypatch.setattr(sampling, "_max_distinct", lambda n_pcts: 10)  # g0's 40 > 10
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        res = exact_percentiles(df, ["g"], "v", ps)
        got = {r["g"]: list(r["pcts"]) for r in res.collect()}
    assert not [w for w in caught if "exact_percentiles" in str(w.message)]
    assert got == want
