"""Property-based tests (hypothesis): randomized inputs against independent
reference implementations. Example counts are kept small — every example
runs Spark jobs — but each run explores fresh corners deterministically
(derandomize) so CI stays stable.
"""

from __future__ import annotations

import datetime as dt
import struct

import pandas as pd
import pytest
from hypothesis import example, given, settings, HealthCheck, strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import WIDTHS
from live_social_media_sentiment_trend_tracker_using_kafka_spark import caching
from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions import sentiment
from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.asof import asof_join
from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.heavy_hitters import (
    heavy_hitters,
)
from live_social_media_sentiment_trend_tracker_using_kafka_spark.session import scoped_conf

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

BASE = dt.datetime(2024, 1, 1)

LEFT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("k", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)
RIGHT_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("px", T.LongType(), False),
    ]
)

keys = st.sampled_from(["a", "b", "c"])
seconds = st.integers(min_value=0, max_value=120)


@settings(**SETTINGS)
@given(
    left=st.lists(st.tuples(keys, seconds), min_size=1, max_size=12),
    right=st.lists(st.tuples(keys, seconds), min_size=1, max_size=12),
)
def test_asof_matches_pandas_merge_asof(spark, left, right):
    # dedupe right on (k, ts) — ties are undefined in both engines
    right = list({(k, s): None for k, s in right}.keys())
    lrows = [(i, k, BASE + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left)]
    rrows = [(k, BASE + dt.timedelta(seconds=s), 1000 + i) for i, (k, s) in enumerate(right)]
    ldf = spark.createDataFrame(lrows, LEFT_SCHEMA)
    rdf = spark.createDataFrame(rrows, RIGHT_SCHEMA)
    got = {r.id: r.r_px for r in asof_join(ldf, rdf, "k").collect()}

    lpd = pd.DataFrame(lrows, columns=["id", "k", "ts"]).sort_values("ts", kind="stable")
    rpd = pd.DataFrame(rrows, columns=["k", "ts", "px"]).sort_values("ts", kind="stable")
    merged = pd.merge_asof(lpd, rpd, on="ts", by="k", direction="backward")
    want = {
        int(r.id): (None if pd.isna(r.px) else int(r.px)) for r in merged.itertuples()
    }
    assert got == want


@settings(**SETTINGS)
@given(
    items=st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=60),
    phi_pct=st.integers(min_value=5, max_value=60),
)
def test_heavy_hitters_matches_exact(spark, items, phi_pct):
    phi = phi_pct / 100.0
    df = spark.createDataFrame([(x,) for x in items], ["item"])
    got = {(r.item, r["count"]) for r in heavy_hitters(df, "item", phi).collect()}
    counts = pd.Series(items).value_counts()
    thresh = -(-phi * len(items) // 1)  # ceil
    want = {(k, int(v)) for k, v in counts.items() if v >= thresh}
    assert got == want


# ---------------------------------------------------------------------------
# Winnowing guarantee: two docs sharing a normalized substring of length
# >= k + window - 1 MUST share at least one fingerprint (Schleimer et al.
# 2003, the algorithm's defining invariant).
# ---------------------------------------------------------------------------

_alnum = st.text(alphabet="abcdefghij0123456789", min_size=0, max_size=60)


@given(prefix_a=_alnum, suffix_a=_alnum, prefix_b=_alnum, suffix_b=_alnum,
       shared=st.text(alphabet="klmnopqrstuvwxyz", min_size=15, max_size=40))
@settings(**SETTINGS)
def test_winnow_shared_substring_guarantee(spark, prefix_a, suffix_a, prefix_b, suffix_b, shared):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions.fingerprint import (
        winnow_fingerprints,
    )

    # k=8, window=8 -> guarantee kicks in at shared length 15
    rows = [(1, prefix_a + shared + suffix_a), (2, prefix_b + shared + suffix_b)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow_fingerprints(df, k=8, window=8).collect()
    a = {r.fingerprint for r in fp if r.doc_id == 1}
    b = {r.fingerprint for r in fp if r.doc_id == 2}
    assert a & b, f"no shared fingerprint despite {len(shared)}-char shared substring"


# ---------------------------------------------------------------------------
# MinHash estimate: band-free signature agreement approximates true Jaccard.
# ---------------------------------------------------------------------------

@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(**SETTINGS)
def test_minhash_signature_estimates_jaccard(spark, seed):
    import random

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import dedup

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(60)]
    base = rng.sample(vocab, 40)
    # doc2 = doc1 with ~25% of tokens swapped out
    swapped = [w if rng.random() > 0.25 else f"x{idx}" for idx, w in enumerate(base)]
    rows = [(1, " ".join(base)), (2, " ".join(swapped))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = df.select(
        "doc_id", dedup.word_shingles_col(F.col("text"), 3).alias("sh"),
        dedup.minhash_signature_col(dedup.word_shingles_col(F.col("text"), 3), 64).alias("sig"),
    ).collect()
    d = {r.doc_id: r for r in sh}
    sa, sb = set(d[1].sh), set(d[2].sh)
    true_j = len(sa & sb) / len(sa | sb)
    est = sum(x == y for x, y in zip(d[1].sig, d[2].sig)) / 64.0
    # 64 hashes -> stderr = sqrt(j(1-j)/64) <= 0.0625; allow 4 sigma
    assert abs(est - true_j) <= 0.25, f"estimate {est} vs true {true_j}"


# ---------------------------------------------------------------------------
# Connected components vs a driver-side union-find reference.
# ---------------------------------------------------------------------------

@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=25), st.integers(min_value=0, max_value=25)),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_connected_components_match_union_find(spark, edges):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.cluster import (
        connected_components,
    )

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}
    # normalize: component label = min node of the component
    comp_min: dict[int, int] = {}
    for n, r in expected.items():
        comp_min.setdefault(find(r), min(n, find(r)))
        comp_min[find(r)] = min(comp_min[find(r)], n)
    expected = {n: comp_min[find(n)] for n in expected}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == expected


# --------------------------------------------------------------------------
# Bucketized range join: equivalence with the naive containment join for
# arbitrary interval shapes (zero-length, overlapping, out-of-range) and
# arbitrary bucket widths — the bucket decomposition must never change the
# matched pair set.
# --------------------------------------------------------------------------

@settings(**SETTINGS)
@given(
    facts=st.lists(st.integers(min_value=0, max_value=600), min_size=1, max_size=15),
    ivals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=600),
            st.integers(min_value=0, max_value=180),
        ),
        min_size=1,
        max_size=10,
    ),
    width=st.sampled_from([7, 60, 3600]),
)
def test_range_join_matches_naive(spark, facts, ivals, width):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.rangejoin import (
        bucketed_range_join,
    )

    fdf = spark.createDataFrame(
        [(i, BASE + dt.timedelta(seconds=s)) for i, s in enumerate(facts)],
        "fact_id int, ts timestamp_ntz",
    )
    idf = spark.createDataFrame(
        [
            (j, BASE + dt.timedelta(seconds=lo), BASE + dt.timedelta(seconds=lo + span))
            for j, (lo, span) in enumerate(ivals)
        ],
        "ival_id int, lo timestamp_ntz, hi timestamp_ntz",
    )
    got = {
        (r.fact_id, r.ival_id)
        for r in bucketed_range_join(fdf, idf, bucket_seconds=width).collect()
    }
    want = {
        (i, j)
        for i, s in enumerate(facts)
        for j, (lo, span) in enumerate(ivals)
        if lo <= s <= lo + span
    }
    assert got == want


# --------------------------------------------------------------------------
# Gap-filled linear interpolation must agree with pandas' method="linear"
# over arbitrary sparse integer series (interior gaps; one-sided gaps stay
# NULL by contract, where pandas ffills — excluded from comparison).
# --------------------------------------------------------------------------

@settings(**SETTINGS)
@given(
    obs=st.dictionaries(
        st.integers(min_value=0, max_value=30),  # bucket hour
        st.integers(min_value=-50, max_value=50),  # value
        min_size=2,
        max_size=10,
    ),
)
def test_gapfill_linear_matches_pandas(spark, obs):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.timeseries import (
        time_bucket_gapfill,
    )
    from pyspark.sql import functions as F

    rows = [
        ("k", BASE + dt.timedelta(hours=h, minutes=10), float(v))
        for h, v in sorted(obs.items())
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp_ntz, v double")
    got = {
        r.bucket: r.avg_v
        for r in time_bucket_gapfill(
            df, "ts", 3600, aggs={"avg_v": F.avg("v")}, fill={"avg_v": "linear"}
        ).collect()
    }

    lo, hi = min(obs), max(obs)
    idx = [BASE + dt.timedelta(hours=h) for h in range(lo, hi + 1)]
    ser = pd.Series(
        [float(obs[h]) if h in obs else None for h in range(lo, hi + 1)],
        index=idx,
        dtype="float64",
    ).interpolate(method="linear", limit_area="inside")
    for ts, want in ser.items():
        assert got[ts.to_pydatetime()] == (None if pd.isna(want) else pytest.approx(want))


# ---- r5 sixth batch: journey transitions / basket lift invariants --------

_event_rows = st.lists(
    st.tuples(
        st.sampled_from(["u1", "u2", "u3"]),
        st.sampled_from(["view", "click", "purchase", "error"]),
        st.integers(min_value=0, max_value=100_000),  # offset seconds
    ),
    min_size=1,
    max_size=40,
)


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [
            (i, BASE + dt.timedelta(seconds=s), u, et, 1.0)
            for i, (u, et, s) in enumerate(rows)
        ],
        "event_id long, ts timestamp_ntz, user_id string, event_type string, value double",
    )


@settings(**SETTINGS)
@given(rows=_event_rows)
def test_event_transitions_conservation_and_prob_sum(spark, rows):
    """Invariants for ANY event stream: total transitions equal
    n_events - n_users (each user chain drops exactly its first event),
    and conditional probabilities sum to ~1 per from_type (6-dp rounding
    slack bounded by the matrix width)."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        event_transitions,
    )

    out = event_transitions(_mk_events(spark, rows)).collect()
    n_users = len({u for u, _, _ in rows})
    assert sum(r.n_transitions for r in out) == len(rows) - n_users
    by_from: dict[str, float] = {}
    for r in out:
        by_from[r.from_type] = by_from.get(r.from_type, 0.0) + r.prob
    for ft, total in by_from.items():
        assert abs(total - 1.0) < 5e-6, (ft, total)


@settings(**SETTINGS)
@given(rows=_event_rows)
def test_event_type_lift_matches_bruteforce_baskets(spark, rows):
    """The HOF pair expansion equals a brute-force python recount of
    (user, day) baskets for any stream — pins the slice/transform index
    arithmetic (1-based slice bounds) against an independent formulation."""
    from itertools import combinations

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sessionize import (
        event_type_lift,
    )

    baskets: dict[tuple, set] = {}
    for u, et, s in rows:
        day = (BASE + dt.timedelta(seconds=s)).date()
        baskets.setdefault((u, day), set()).add(et)
    n_b = len(baskets)
    expect = {}
    for types in baskets.values():
        for a, b in combinations(sorted(types), 2):
            expect[(a, b)] = expect.get((a, b), 0) + 1
    per_type: dict[str, int] = {}
    for types in baskets.values():
        for t in types:
            per_type[t] = per_type.get(t, 0) + 1

    out = event_type_lift(_mk_events(spark, rows)).collect()
    got = {(r.type_a, r.type_b): r for r in out}
    assert set(got) == set(expect)
    for pair, r in got.items():
        assert r.n_both == expect[pair]
        assert r.support == round(expect[pair] / n_b, 6)
        a, b = pair
        assert r.lift == round(expect[pair] * n_b / (per_type[a] * per_type[b]), 6)


def _is_subsequence(short: list, long: list) -> bool:
    it = iter(long)
    return all(tok in it for tok in (t for t in short))


words = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"])


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(words, min_size=0, max_size=24), min_size=1, max_size=8
    ),
)
def test_remove_duplicate_spans_invariants(spark, docs):
    """Random small corpora over an 8-word vocabulary (dense in shared
    8-grams — the adversarial case). Invariants: every ≥1-token doc
    appears exactly once; n_removed + kept-token count == n_tokens; the
    cleaned text is an order-preserving SUBSEQUENCE of the original
    tokens; a doc sharing no gram with any other doc loses nothing."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        remove_duplicate_spans,
    )

    n = 8
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_duplicate_spans(df, n=n).collect()}

    nonempty = {i: t for i, (_, txt) in enumerate(rows) if (t := txt.split())}
    assert set(out) == set(nonempty)

    grams_of = {
        i: {" ".join(t[p : p + n]) for p in range(len(t) - n + 1)}
        for i, t in nonempty.items()
    }
    for i, t in nonempty.items():
        r = out[i]
        clean = r.text_clean.split() if r.text_clean else []
        assert r.n_tokens == len(t)
        assert r.n_removed == len(t) - len(clean)
        assert _is_subsequence(clean, t), (clean, t)
        others = set().union(*(g for j, g in grams_of.items() if j != i), set())
        if not (grams_of[i] & others):
            assert r.n_removed == 0, (i, t, clean)


# ---- CDC family properties (r10) -------------------------------------

CDC_LOG = st.lists(
    st.tuples(
        st.integers(0, 4),                  # key
        st.integers(0, 20),                 # ts offset (collisions likely)
        st.sampled_from(["a", "b", None]),  # attribute incl. NULL regimes
    ),
    min_size=1,
    max_size=30,
)


@given(rows=CDC_LOG)
@settings(**SETTINGS)
def test_scd2_intervals_partition_each_key_history(spark, rows):
    """SCD2 invariants for ANY log: per key, intervals chain exactly
    (valid_to == next valid_from), exactly one open interval, the first
    regime starts at the key's min ts, and consecutive regimes always
    differ (null-safely)."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.cdc import scd2_history

    data = [
        (k, BASE + dt.timedelta(hours=off), i, attr)
        for i, (k, off, attr) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "k long, ts timestamp, event_id long, attr string"
    )
    hist = scd2_history(df, "k", "ts", "attr", "event_id", "attr").collect()
    by_key: dict = {}
    for r in hist:
        by_key.setdefault(r.k, []).append(r)
    first_ts = {}
    for k, ts, _i, _a in data:
        first_ts[k] = min(first_ts.get(k, ts), ts)
    for k, regimes in by_key.items():
        regimes.sort(key=lambda r: r.valid_from)
        assert regimes[0].valid_from == first_ts[k]
        assert sum(1 for r in regimes if r.is_current) == 1
        assert regimes[-1].is_current and regimes[-1].valid_to is None
        for a, b in zip(regimes, regimes[1:]):
            assert a.valid_to == b.valid_from  # contiguous, no gap/overlap
            assert a.attr != b.attr or (a.attr is None) != (b.attr is None)


@given(rows=CDC_LOG)
@settings(**SETTINGS)
def test_latest_snapshot_agrees_with_scd2_current_regime(spark, rows):
    """Cross-operator consistency: latest_snapshot's surviving attribute
    equals the scd2 open regime's attribute for every non-tombstoned key
    (two independent phrasings of 'the latest state')."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.cdc import (
        latest_snapshot,
        scd2_history,
    )

    data = [
        (k, BASE + dt.timedelta(hours=off), i, attr)
        for i, (k, off, attr) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "k long, ts timestamp, event_id long, attr string"
    )
    snap = {
        r.k: r.attr
        for r in latest_snapshot(
            df, "k", "ts", "event_id", F.lit(False), ["attr"]
        ).collect()
    }
    current = {
        r.k: r.attr
        for r in scd2_history(df, "k", "ts", "attr", "event_id", "attr")
        .filter(F.col("is_current"))
        .collect()
    }
    assert snap == current


@given(rows=CDC_LOG)
@settings(**SETTINGS)
def test_snapshot_diff_applied_to_old_reproduces_new(spark, rows):
    """Roundtrip: apply the diff to the old snapshot (drop removed,
    upsert changed, insert added) and you MUST get the new snapshot —
    the defining property of a changelog."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.cdc import snapshot_diff

    # derive two snapshots from the random log: old = even event_ids,
    # new = odd event_ids (arbitrary, overlapping key sets, NULL attrs)
    old_rows = {k: attr for i, (k, _o, attr) in enumerate(rows) if i % 2 == 0}
    new_rows = {k: attr for i, (k, _o, attr) in enumerate(rows) if i % 2 == 1}
    old = spark.createDataFrame(
        [(k, v) for k, v in old_rows.items()], "k long, attr string"
    )
    new = spark.createDataFrame(
        [(k, v) for k, v in new_rows.items()], "k long, attr string"
    )
    diff = snapshot_diff(old, new, ["k"], ["attr"]).collect()
    applied = dict(old_rows)
    for r in diff:
        if r.diff_type == "removed":
            applied.pop(r.k)
        elif r.diff_type in ("added", "changed"):
            applied[r.k] = r.new_attr
    assert applied == new_rows


PACK_DOCS = st.lists(
    st.tuples(st.sampled_from(["A", "B", "C"]), st.integers(min_value=0, max_value=9)),
    min_size=1,
    max_size=24,
)


@given(docs=PACK_DOCS, width=st.sampled_from(WIDTHS))
@settings(**SETTINGS)
def test_pack_documents_matches_python_reference(spark, docs, width):
    """The chunked running sum equals the packing definition (docs laid
    end-to-end in id order per shard, cut at max_tokens) at ANY chunk
    width (``spark.sql.shuffle.partitions``) — chunk boundaries must
    never leak into values."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        pack_documents,
    )

    max_tokens = 7
    rows = [
        (i, " ".join(["w"] * n) if n else "", shard)
        for i, (shard, n) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    with scoped_conf(spark, "spark.sql.shuffle.partitions", str(width)):
        got = {
            r.doc_id: (r.n_tokens, r.seq_id, r.seq_offset)
            for r in pack_documents(df, max_tokens=max_tokens).collect()
        }
    caching.release_all()
    cum: dict[str, int] = {}
    ref = {}
    for i, (shard, n) in enumerate(docs):  # ids ascend, so this IS id order
        start = cum.get(shard, 0)
        ref[i] = (n, start // max_tokens, start % max_tokens)
        cum[shard] = start + n
    assert got == ref


QN_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["g0", "g1"]),
        st.one_of(st.none(), st.integers(min_value=0, max_value=12)),
    ),
    min_size=2,
    max_size=24,
)


@given(rows=QN_ROWS)
@settings(**SETTINGS)
def test_quantile_normalize_matches_python_reference(spark, rows):
    """The r11 count-based percent_rank equals the textbook definition
    ((# smaller)/(n-1), ties share), NULL scores vanish without shifting
    anyone else's calibration, and the grid interpolation matches
    numpy's type-7 percentile."""
    import numpy as np

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.sampling import (
        quantile_normalize,
    )

    data = [
        (i, g, None if s is None else s / 3.0) for i, (g, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "doc_id long, source string, score double")
    out = {
        r.doc_id: r.calibrated
        for r in quantile_normalize(
            df, "score", "source", "doc_id", grid_points=11
        ).collect()
    }
    scored = [(i, g, s) for i, g, s in data if s is not None]
    if not scored:
        assert out == {}
        return
    grid = np.percentile([s for _, _, s in scored], [10 * q for q in range(11)])
    by_group: dict[str, list[float]] = {}
    for _, g, s in scored:
        by_group.setdefault(g, []).append(s)
    for i, g, s in scored:
        vals = by_group[g]
        p = (
            sum(1 for v in vals if v < s) / (len(vals) - 1)
            if len(vals) > 1
            else 0.0
        )
        k = int(p * 10)
        k2 = min(k + 1, 10)
        frac = p * 10 - k
        want = round(grid[k] + frac * (grid[k2] - grid[k]), 6) + 0.0
        assert abs(out[i] - want) <= 1e-6, (i, out[i], want)
    assert set(out) == {i for i, _, _ in scored}


# Texts for the scorer: tokens are lexicon words, negators and
# contractions (plus İ and the Kelvin sign, which lower to two characters
# and to ASCII 'k') in mixed case, wrapped in strip-set punctuation or made
# of it alone ("not !!! good"), separated by runs of every str.isspace
# character and U+200B, which is not whitespace.
_SCORER_WORDS = st.sampled_from(
    sorted(sentiment._LEXICON) + sorted(sentiment._NEGATORS)
    + ["don't", "isn't", "can't", "won't", "'not'", "x", "İ", "İs", "\u212a", "li\u212ae", "\u212aool"]
)
_SCORER_PUNCT = st.text(alphabet=sentiment._STRIP, max_size=3)
_SCORER_TOKEN = st.one_of(
    st.builds(
        lambda pre, word, caps, post: pre + "".join(
            c.upper() if caps >> i & 1 else c for i, c in enumerate(word)) + post,
        _SCORER_PUNCT, _SCORER_WORDS, st.integers(min_value=0, max_value=2**12), _SCORER_PUNCT,
    ),
    _SCORER_PUNCT.filter(bool),
)
_SCORER_SEP = st.text(alphabet=sorted(sentiment._WHITESPACE) + ["\u200b"], min_size=1, max_size=3)
_SCORER_TEXT = st.one_of(
    st.none(),
    st.just(""),
    st.builds(
        lambda lead, toks: lead + "".join(t + sep for t, sep in toks),
        st.text(alphabet=sorted(sentiment._WHITESPACE), max_size=2),
        st.lists(st.tuples(_SCORER_TOKEN, _SCORER_SEP), max_size=8),
    ),
)


@settings(**SETTINGS)
@given(texts=st.lists(_SCORER_TEXT, min_size=1, max_size=40))
@example(texts=[None, "", "not !!! good", "I don't like this", "(#love)", "NOT\u2003GOOD", "not\u200bgood"])
def test_catalyst_scorer_bit_identical_to_python(spark, monkeypatch, texts):
    """``sentiment_score_col`` over lowered text (as ``enrich_posts`` feeds
    it) equals ``vendored_score_text`` bit for bit. ``_VADER`` is cleared so
    the Catalyst path is the one under test on any image."""
    monkeypatch.setattr(sentiment, "_VADER", None)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    got = df.select("i", sentiment.sentiment_score_col(F.lower("text")).alias("s")).collect()
    bits = lambda x: struct.pack("<d", x)
    assert {r.i: bits(r.s) for r in got} == {
        i: bits(sentiment.vendored_score_text(t)) for i, t in enumerate(texts)
    }
