"""tf-idf and stratified sampling: golden semantics on constructed docs
(the oracle-parity tests cover value equality on the driver corpus)."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import at_widths
from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
    stratified_sample,
    tfidf_top_terms,
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def test_tfidf_rare_term_outranks_common(spark):
    docs = [
        (1, "common rare rare", "en"),
        (2, "common words here", "en"),
        (3, "common again common", "en"),
    ]
    df = spark.createDataFrame(docs, DOC_SCHEMA)
    rows = tfidf_top_terms(df, k=1).collect()
    top = {r.doc_id: r for r in rows}
    # 'rare' (tf=2, df=1): 2*ln(1+3/1) ~ 2.77 beats 'common' (tf=1, df=3):
    # 1*ln(1+3/3) ~ 0.69
    assert top[1].term == "rare"
    assert math.isclose(top[1].tfidf, round(2 * math.log(1 + 3 / 1), 6), abs_tol=1e-9)
    assert top[1].df == 1 and top[1].tf == 2


def test_tfidf_k_and_ordering(spark):
    docs = [(1, "a a b b c", "en"), (2, "a c", "en")]
    df = spark.createDataFrame(docs, DOC_SCHEMA)
    rows = [r for r in tfidf_top_terms(df, k=2).collect() if r.doc_id == 1]
    assert len(rows) == 2
    assert rows[0].tfidf >= rows[1].tfidf
    assert rows[0].term == "b"  # tf=2, df=1 — the most distinctive


def test_stratified_sample_quota_and_determinism(spark):
    docs = [(i, f"text {i}", "en" if i % 2 == 0 else "fr") for i in range(50)]
    df = spark.createDataFrame(docs, DOC_SCHEMA)
    s1 = stratified_sample(df, "lang", 5).collect()
    s2 = stratified_sample(df, "lang", 5).collect()
    assert [tuple(r) for r in s1] == [tuple(r) for r in s2]  # reproducible
    by_lang = {}
    for r in s1:
        by_lang.setdefault(r.lang, []).append(r.doc_id)
    assert {k: len(v) for k, v in by_lang.items()} == {"en": 5, "fr": 5}


def test_stratified_sample_small_stratum_keeps_all(spark):
    docs = [(1, "x", "en"), (2, "y", "fr"), (3, "z", "fr")]
    df = spark.createDataFrame(docs, DOC_SCHEMA)
    got = stratified_sample(df, "lang", 10).collect()
    assert len(got) == 3


def test_pack_documents_golden(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        pack_documents,
    )

    rows = [
        # shard A: 3 + 4 + 2 tokens, budget 5:
        #   doc 1 starts at 0 (seq 0), doc 2 at 3 (seq 0), doc 3 at 7 (seq 1)
        (1, "a b c", "A"),
        (2, "d e f g", "A"),
        (3, "h i", "A"),
        # shard B independent: starts again at 0
        (4, "x y z", "B"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        r["doc_id"]: r
        for r in pack_documents(df, max_tokens=5, shard_col="source").collect()
    }
    assert (out[1]["seq_id"], out[1]["seq_offset"]) == (0, 0)
    assert (out[2]["seq_id"], out[2]["seq_offset"]) == (0, 3)
    assert (out[3]["seq_id"], out[3]["seq_offset"]) == (1, 2)
    assert (out[4]["seq_id"], out[4]["seq_offset"]) == (0, 0)
    assert out[2]["n_tokens"] == 4


def test_pack_documents_chunk_count_independent(spark):
    """The chunked running sum is bit-for-bit identical at ANY chunk
    width (``spark.sql.shuffle.partitions``): chunk boundaries affect
    parallelism only — an order-preserving split reassembles the same
    per-shard running sum the plain window computes."""
    from pyspark.sql import Window

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        pack_documents,
        word_tokens_col,
    )

    rng = random.Random(11)
    rows = [
        (i, " ".join("w%d" % rng.randrange(50) for _ in range(rng.randrange(1, 12))),
         "s%d" % (i % 3))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    w = Window.partitionBy("source").orderBy("doc_id")
    n_tok = F.size(word_tokens_col(F.col("text"))).cast("long")
    want = sorted(
        (r["doc_id"], r["n_tokens"], r["_prior"] // 64, r["_prior"] % 64)
        for r in df.select("doc_id", "source", n_tok.alias("n_tokens"))
        .withColumn("_prior", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .collect()
    )
    assert len(want) == 400
    for got in at_widths(spark, lambda: pack_documents(df, max_tokens=64)):
        assert sorted(
            (r["doc_id"], r["n_tokens"], r["seq_id"], r["seq_offset"]) for r in got
        ) == want


def test_pack_documents_matches_single_window_reference(spark):
    """The distributed formulation equals the textbook per-shard window
    cumsum it replaced (the r10 implementation, kept here as the spec)."""
    from pyspark.sql import Window
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        pack_documents,
        word_tokens_col,
    )

    rng = random.Random(7)
    rows = [
        (i, " ".join("t%d" % rng.randrange(30) for _ in range(rng.randrange(1, 9))),
         "src%d" % (i % 2))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref = {
        r["doc_id"]: (r["seq_id"], r["seq_offset"])
        for r in df.select(
            "doc_id",
            "source",
            F.size(word_tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
        )
        .withColumn("_cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            F.floor((F.col("_cum") - F.col("n_tokens")) / 32).alias("seq_id"),
            ((F.col("_cum") - F.col("n_tokens")) % 32).alias("seq_offset"),
        )
        .collect()
    }
    for got in at_widths(spark, lambda: pack_documents(df, max_tokens=32)):
        assert {r["doc_id"]: (r["seq_id"], r["seq_offset"]) for r in got} == ref


def test_line_dedup_removes_boilerplate_keeps_order(spark):
    """CCNet-style line dedup: corpus-frequent lines drop, unique lines stay
    in original order, all-boilerplate docs vanish."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import corpus

    rows = [
        (1, "unique alpha\ncookie banner\nunique beta"),
        (2, "cookie banner\nanother page"),
        (3, "cookie banner"),                      # all boilerplate -> dropped
        (4, "standalone content"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in corpus.line_dedup(df, max_doc_frequency=2).collect()}
    assert set(got) == {1, 2, 4}
    assert got[1].text_clean == "unique alpha\nunique beta"  # order preserved
    assert got[1].n_lines_kept == 2
    assert got[2].text_clean == "another page"
    assert got[4].text_clean == "standalone content"


def test_line_dedup_metachar_separator(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        line_dedup,
    )

    docs = spark.createDataFrame(
        [(1, "keep me|shared line"), (2, "other text|shared line")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in line_dedup(docs, sep="|", max_doc_frequency=2).collect()}
    assert rows[1].text_clean == "keep me"
    assert rows[2].text_clean == "other text"


def test_chunk_documents_rejects_gapping_stride(spark):
    import pytest
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        chunk_documents,
    )

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(docs, max_tokens=4, stride=10)


def test_chunk_documents_no_redundant_tail_chunk(spark):
    """A doc whose last stride start lies inside the previous chunk's
    coverage must NOT emit a subset tail chunk: 64 tokens at stride 48 /
    max 64 is exactly one chunk; 65 tokens is two (the second reaches the
    end with fresh text)."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(64))),
         (2, " ".join(f"t{i}" for i in range(65)))],
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, max_tokens=64, stride=48).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0].n_chunk_tokens == 64
    assert len(by_doc[2]) == 2
    # tail chunk covers [48, 65) — 17 tokens, ends at the document end
    tail = max(by_doc[2], key=lambda r: r.chunk_id)
    assert tail.n_chunk_tokens == 17 and tail.chunk_text.endswith("t64")


def test_dsir_scores_rank_target_like_docs_higher(spark):
    """Contrastive ranking: docs written in the target slice's vocabulary
    must outscore docs in the off-target vocabulary, with a mixed doc in
    between — the property importance resampling relies on."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        dsir_importance_scores,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha beta", "en"),
            (2, "alpha gamma beta beta alpha", "en"),
            (3, "rojo verde azul rojo verde", "es"),
            (4, "rojo azul verde azul rojo", "es"),
            (5, "alpha beta rojo verde", "es"),      # mixed vocabulary
        ],
        "doc_id long, text string, lang string",
    )
    out = {
        r.doc_id: r.dsir_score
        for r in dsir_importance_scores(docs, F.col("lang") == "en").collect()
    }
    assert len(out) == 5
    assert min(out[1], out[2]) > out[5] > max(out[3], out[4])
    assert out[1] > 0 and out[3] < 0


def test_attrition_report_stage_semantics(spark):
    """Planted fixture where every stage removes a known doc: raw 5 →
    lang 4 (drops zz) → quality 3 (drops the punctuation-soup doc) →
    dedup 2 (drops the exact copy, keeps min id)."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.pipeline import (
        attrition_report,
    )

    good = "the quick brown fox jumps over the lazy dog and runs to the old barn again"
    docs = spark.createDataFrame(
        [
            (1, good, "en", "a"),
            (2, good, "en", "b"),              # exact duplicate of 1
            (3, good + " tonight", "fr", "a"),
            (4, "!!! ??? ### $$$ %%%", "en", "a"),   # fails quality
            (5, good, "zz", "a"),              # fails lang allowlist
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = {r.stage: r for r in attrition_report(docs).collect()}
    assert [out[s].n_docs for s in ("raw", "lang_allowlist", "quality_gate", "exact_dedup")] == [5, 4, 3, 2]
    assert out["raw"].frac_of_prev is None
    assert abs(out["lang_allowlist"].frac_of_prev - 0.8) < 1e-9
    assert abs(out["exact_dedup"].frac_of_raw - 0.4) < 1e-9


def test_token_pmi_pairs_hand_computed(spark):
    """PMI on a 4-doc toy corpus matches hand-computed ln(P(ab)/P(a)P(b))
    with document-frequency probabilities; ordering is pmi desc with the
    (tok_a, tok_b) tiebreak."""
    import math

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        token_pmi_pairs,
    )

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "b c x")], "doc_id long, text string"
    )
    out = token_pmi_pairs(df, vocab_k=10, min_pair_docs=1, k=10).collect()
    got = [(r["tok_a"], r["tok_b"], r["pair_docs"], r["pmi"]) for r in out]
    r6 = lambda v: round(v, 6)  # noqa: E731
    assert got == [
        ("c", "x", 1, r6(math.log(4 / 2))),
        ("b", "x", 1, r6(math.log(4 / 3))),
        ("a", "b", 2, r6(math.log(2 * 4 / 9))),
        ("a", "c", 1, r6(math.log(4 / 6))),
        ("b", "c", 1, r6(math.log(4 / 6))),
    ]


def test_token_pmi_pairs_vocab_cut_and_pair_floor(spark):
    """vocab_k=2 keeps only {a, b} (df ties broken alphabetically), so the
    only candidate pair is (a, b); min_pair_docs=3 then filters it out."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        token_pmi_pairs,
    )

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "b c x")], "doc_id long, text string"
    )
    only_ab = token_pmi_pairs(df, vocab_k=2, min_pair_docs=1, k=10).collect()
    assert [(r["tok_a"], r["tok_b"]) for r in only_ab] == [("a", "b")]
    assert token_pmi_pairs(df, vocab_k=10, min_pair_docs=3, k=10).count() == 0


def test_zipf_alpha_exact_power_law(spark):
    """Token frequencies 12/6/4 at ranks 1/2/3 follow n = 12/r exactly, so
    ln n = ln 12 - 1.0 * ln r and the fitted alpha is exactly 1.0 with
    intercept ln 12; a uniform-frequency source fits alpha 0."""
    import math

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        zipf_alpha,
    )

    text_zipf = " ".join(["a"] * 12 + ["b"] * 6 + ["c"] * 4)
    text_flat = " ".join(["p"] * 3 + ["q"] * 3 + ["r"] * 3)
    df = spark.createDataFrame(
        [(1, text_zipf, "zipf"), (2, text_flat, "flat")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in zipf_alpha(df).collect()}
    assert out["zipf"]["n_terms"] == 3
    assert abs(out["zipf"]["zipf_alpha"] - 1.0) < 1e-6
    assert abs(out["zipf"]["zipf_intercept"] - round(math.log(12), 6)) < 1e-6
    assert out["flat"]["zipf_alpha"] == 0.0
    assert abs(out["flat"]["zipf_intercept"] - round(math.log(3), 6)) < 1e-6


def test_zipf_alpha_top_n_cut_and_rank_tiebreak(spark):
    """top_n=2 fits only ranks 1-2; equal counts rank alphabetically (the
    deterministic tiebreak the oracle mirrors)."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        zipf_alpha,
    )

    df = spark.createDataFrame(
        [(1, " ".join(["a"] * 4 + ["b"] * 2 + ["c"] * 2 + ["d"] * 1), "s")],
        "doc_id long, text string, source string",
    )
    out = zipf_alpha(df, top_n=2).collect()
    assert len(out) == 1 and out[0]["n_terms"] == 2
    # ranks fitted: a(4)@1, b(2)@2 (b beats c alphabetically); exact 2-point
    # fit through (ln1, ln4), (ln2, ln2) -> slope -1 -> alpha 1
    assert abs(out[0]["zipf_alpha"] - 1.0) < 1e-6


def test_lang_confusion_matrix_and_fractions(spark):
    """Declared-vs-detected cells with per-declared fractions summing to 1;
    marker words drive detection (the lang_id_col contract)."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        lang_confusion,
    )

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is here", "en"),   # detected en
            (2, "el gato que la casa es una", "en"),    # declared en, detected es
            (3, "el perro la casa que de", "es"),       # detected es
            (4, "the thing and it is of", "es"),        # declared es, detected en
        ],
        "doc_id long, text string, lang string",
    )
    out = [tuple(r) for r in lang_confusion(df).collect()]
    assert out == [
        ("en", "en", 1, 0.5),
        ("en", "es", 1, 0.5),
        ("es", "en", 1, 0.5),
        ("es", "es", 1, 0.5),
    ]


def test_quality_by_dup_status_membership_split(spark):
    """Docs present in the components table aggregate as near_dup_member;
    the rest as unique; avg_tokens is the whitespace token mean per side."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        quality_by_dup_status,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),          # member, 5 tokens
            (2, "the quick brown fox jumped today"),   # member, 6 tokens
            (3, "completely different text"),          # unique, 3 tokens
        ],
        "doc_id long, text string",
    )
    comp = spark.createDataFrame([(1, 1), (2, 1)], "node long, component long")
    out = {r["dup_status"]: r for r in quality_by_dup_status(docs, comp).collect()}
    assert set(out) == {"near_dup_member", "unique"}
    assert out["near_dup_member"]["n_docs"] == 2
    assert out["near_dup_member"]["avg_tokens"] == 5.5
    assert out["unique"]["n_docs"] == 1
    assert out["unique"]["avg_tokens"] == 3.0
    for r in out.values():
        assert 0.0 <= r["avg_quality"] <= 1.0


def test_lexical_diversity_exact_ratios(spark):
    """Hand-computable slices: en has tokens [the, cat, the] (2 types,
    1 hapax, 9 chars); fr has [a, b] (all hapax, avg length 1)."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        lexical_diversity,
    )

    docs = spark.createDataFrame(
        [
            (1, "The cat... THE!", "en"),
            (2, "a b", "fr"),
            (3, "", "fr"),  # degenerate: tokenizes to nothing
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.lang: r for r in lexical_diversity(docs).collect()}
    assert set(out) == {"en", "fr"}
    en = out["en"]
    assert (en.n_tokens, en.n_types, en.n_hapax) == (3, 2, 1)
    assert en.ttr == round(2 / 3, 6)
    assert en.hapax_share == 0.5
    assert en.avg_token_len == 3.0
    fr = out["fr"]
    assert (fr.n_tokens, fr.n_types, fr.n_hapax) == (2, 2, 2)
    assert (fr.ttr, fr.hapax_share, fr.avg_token_len) == (1.0, 1.0, 1.0)


def test_corpus_drift_counts_and_order(spark):
    """Tokens are counted into the md5-determined half; the top-k ranks on
    the exact integer cross-multiplied frequency difference."""
    import hashlib

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import corpus_drift

    a_ids = [i for i in range(1, 200) if hashlib.md5(str(i).encode()).hexdigest()[0] < "8"]
    b_ids = [i for i in range(1, 200) if hashlib.md5(str(i).encode()).hexdigest()[0] >= "8"]
    docs = spark.createDataFrame(
        [
            (a_ids[0], "alpha alpha beta"),
            (a_ids[1], "alpha gamma"),
            (b_ids[0], "beta beta beta gamma"),
        ],
        "doc_id long, text string",
    )
    rows = {r["token"]: r for r in corpus_drift(docs, k=10).collect()}
    # tot_a = 5, tot_b = 4; alpha: (3,0); beta: (1,3); gamma: (1,1)
    assert (rows["alpha"]["cnt_a"], rows["alpha"]["cnt_b"]) == (3, 0)
    assert (rows["beta"]["cnt_a"], rows["beta"]["cnt_b"]) == (1, 3)
    # smoothed p_a for alpha: (3+.5)/(5+.5*3) = 3.5/6.5
    assert rows["alpha"]["p_a"] == round(3.5 / 6.5, 6)
    # ordering: dn(alpha)=|3*4-0*5|=12 > dn(beta)=|1*4-3*5|=11 > dn(gamma)=1
    toks = [r["token"] for r in corpus_drift(docs, k=10).collect()]
    assert toks == ["alpha", "beta", "gamma"]


def test_source_shingle_overlap_exact_jaccard(spark):
    """Two sources sharing exactly one trigram out of (2+2-1) distinct ones;
    a third zero-overlap source still appears in the matrix."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        source_shingle_overlap,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),     # trigrams: "a b c", "b c d"
            (2, "a b c x", "s2"),     # trigrams: "a b c", "b c x"
            (3, "q r s t", "s3"),     # trigrams: "q r s", "r s t"
        ],
        "doc_id long, text string, source string",
    )
    rows = {(r["source_a"], r["source_b"]): r for r in source_shingle_overlap(docs).collect()}
    assert set(rows) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    r = rows[("s1", "s2")]
    assert (r["shingles_a"], r["shingles_b"], r["inter_cnt"]) == (2, 2, 1)
    assert r["jaccard"] == round(1 / 3, 6)
    assert rows[("s1", "s3")]["inter_cnt"] == 0
    assert rows[("s1", "s3")]["jaccard"] == 0.0


def test_span_corruption_stats_hand_checked(spark):
    """Mask flags replicate md5(doc_id:pos) in hashlib; span count equals
    the number of False->True transitions (plus a masked position 0)."""
    import hashlib

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        span_corruption_stats,
    )

    doc_id, n = 7, 12
    text = " ".join(f"w{i}" for i in range(n))
    flags = [hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest()[0] < "2" for i in range(n)]
    exp_masked = sum(flags)
    exp_spans = sum(
        1 for i in range(n) if flags[i] and (i == 0 or not flags[i - 1])
    )
    df = spark.createDataFrame([(doc_id, text), (8, "   ")], "doc_id long, text string")
    rows = span_corruption_stats(df).collect()
    assert len(rows) == 1  # token-less doc dropped
    r = rows[0]
    assert (r["n_tokens"], r["n_masked"], r["n_spans"]) == (n, exp_masked, exp_spans)
    assert r["mask_rate"] == round(exp_masked / n, 6)


def test_span_corruption_stats_no_shuffle(spark):
    """The operator is a narrow map: its physical plan must contain no
    Exchange (the whole point of the per-row array construction)."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        span_corruption_stats,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = span_corruption_stats(df)._jdf.queryExecution().executedPlan().toString()
    body = plan.split("TakeOrderedAndProject")[-1] if "TakeOrderedAndProject" in plan else plan
    # orderBy(doc_id) plans as a range-partitioned Sort; everything below it
    # must be exchange-free. Accept the single rangepartitioning exchange,
    # reject any hashpartitioning (a shuffle would mean we lost narrowness).
    assert "hashpartitioning" not in body, body


def test_bm25_search_hand_computed(spark):
    """Single-term query over a 2-doc corpus: the doc with higher tf but
    longer length loses to BM25's length normalization exactly as the
    closed-form computes."""
    import math

    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "spark spark other other other other other other"),  # tf 2, dl 8
            (2, "spark other"),                                       # tf 1, dl 2
            (3, "nothing here"),                                      # no match
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bm25_search(docs, ["spark"], k=10).collect()}
    assert set(out) == {1, 2}
    n_docs, total_dl, df_t = 3, 12, 2
    idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))

    def s(tf, dl):
        return (idf * (tf * 2.2)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl * n_docs) / total_dl))

    assert out[1]["score"] == round(s(2, 8), 6)
    assert out[2]["score"] == round(s(1, 2), 6)
    # shorter doc with tf=1 outranks dl=8 doc with tf=2 at these params
    assert out[2]["score"] > out[1]["score"]
    assert out[1]["matched_terms"] == 1 and out[1]["dl"] == 8


def test_span_corruption_stats_single_token_docs_never_null(spark):
    """A 1-token doc makes the shifted-flags slices unequal-length;
    zip_with's NULL padding must coalesce to 0, not poison n_spans
    (advisor-reported r6 parity bug)."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        span_corruption_stats,
    )

    # enough doc_ids that both masked and unmasked single-token docs occur
    df = spark.createDataFrame([(i, "word") for i in range(64)], "doc_id long, text string")
    rows = span_corruption_stats(df).collect()
    assert len(rows) == 64
    for r in rows:
        assert r["n_spans"] is not None
        assert r["n_spans"] == r["n_masked"]  # 1 token: span iff masked


def test_duplicate_span_stats_hand_checked(spark):
    """Two docs sharing one verbatim 8-word span, one unique doc, one doc
    shorter than n (single short gram): fractions computed by hand."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        duplicate_span_stats,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 words
    d1 = shared + " one two three"     # spans: 4 grams (11 words -> 11-8+1)
    d2 = "x y " + shared               # 10 words -> 3 grams
    d3 = "totally unique words here nothing repeats in this document at all"
    d4 = "tiny doc"                    # < 8 words -> ONE short gram
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_spans, r.dup_spans, r.dup_frac) for r in
           duplicate_span_stats(df, n=8).collect()}
    # d1 and d2 share exactly the one gram == `shared`
    assert got[1] == (4, 1, round(1 / 4, 6))
    assert got[2] == (3, 1, round(1 / 3, 6))
    assert got[3][1] == 0 and got[3][2] == 0.0
    assert got[4] == (1, 0, 0.0)


def test_remove_duplicate_spans_owner_keeps_copies_emptied(spark):
    """ExactSubstr removal semantics: the min-id owner keeps every token,
    verbatim copies are fully emptied, an embedded shared span is cut out
    of the non-owner only, short docs pass through."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        remove_duplicate_spans,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "prefix words here alpha beta gamma delta epsilon zeta eta theta end"),
        (4, "totally unrelated text with enough words to make grams here today"),
        (5, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_duplicate_spans(df, n=8).collect()}
    assert len(out) == 5
    assert out[1].n_removed == 0 and out[1].text_clean.startswith("alpha beta")
    assert out[2].n_removed == out[2].n_tokens and out[2].text_clean == ""
    assert out[3].n_removed == 8 and out[3].text_clean == "prefix words here end"
    assert out[4].n_removed == 0
    assert out[5].n_removed == 0 and out[5].text_clean == "short doc"


def test_paragraph_language_profile_segments_and_flags_mixture(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        paragraph_language_profile,
    )

    en = "the cat and the dog went to the market and it is that good"
    es = "el perro y la casa que de es una historia de la que es una"
    de = "der hund und die katze das ist nicht ein problem und ich bin"
    rows = [
        (1, en + "\n\n" + en),              # monolingual, 2 paragraphs
        (2, en + "\n\n" + es),              # mixed 50/50 -> tie, 'en' wins lexically
        (3, en + "\n\n" + en + "\n\n" + de),  # dominant en (2/3), mixed
        (4, "tiny\n\nalso small"),          # every para under min_chars -> dropped
        (5, es),                            # single spanish paragraph
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in paragraph_language_profile(df).collect()}
    assert set(out) == {1, 2, 3, 5}  # doc 4 has no qualifying paragraph
    assert out[1].n_paragraphs == 2 and out[1].n_languages == 1
    assert out[1].dominant_lang == "en" and not out[1].mixed_language
    assert out[2].n_languages == 2 and out[2].mixed_language
    assert out[2].dominant_lang == "en" and out[2].dominant_share == 0.5  # tiebreak
    assert out[3].n_paragraphs == 3 and out[3].dominant_lang == "en"
    assert abs(out[3].dominant_share - 2 / 3) < 1e-6 and out[3].mixed_language
    assert out[5].dominant_lang == "es" and out[5].dominant_share == 1.0


def test_inverted_index_semantics_and_cap(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import inverted_index

    docs = spark.createDataFrame(
        [(i, "common common rare" + (" unique" if i == 0 else "")) for i in range(10)],
        "doc_id long, text string",
    )
    out = {r.term: r for r in inverted_index(docs, max_postings=4, min_df=1).collect()}
    assert out["common"].df == 10 and out["common"].cf == 20
    # cap keeps the SMALLEST doc_ids, tfs stay aligned
    assert out["common"].postings_docs == [0, 1, 2, 3]
    assert out["common"].postings_tfs == [2, 2, 2, 2]
    assert out["rare"].df == 10 and out["rare"].cf == 10
    assert out["unique"].df == 1 and out["unique"].postings_docs == [0]


def test_inverted_index_salting_invariant(spark):
    # the two-level salted merge must produce the same result at any n_salts
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import inverted_index
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.sources.readers import table

    from conftest import SF_SMOKE

    docs = table(spark, "documents", SF_SMOKE)
    a = inverted_index(docs, max_postings=7, min_df=3, n_salts=1).collect()
    b = inverted_index(docs, max_postings=7, min_df=3, n_salts=64).collect()
    ka = {(r.term, tuple(r.postings_docs), tuple(r.postings_tfs), r.df, r.cf) for r in a}
    kb = {(r.term, tuple(r.postings_docs), tuple(r.postings_tfs), r.df, r.cf) for r in b}
    assert ka == kb and ka


def test_inverted_index_salt_conf_and_auto(monkeypatch, spark):
    """n_salts=None derives a width from the Catalyst size estimate, one
    salt per SALT_BYTES; every width yields identical output (salt-width
    invariance is already pinned above)."""
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators import corpus as C
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.plans.hints import estimated_plan_bytes

    docs = spark.createDataFrame(
        [(i, "alpha beta " + ("gamma " * (i % 3))) for i in range(40)],
        ["doc_id", "text"],
    )
    widths = []
    real = C.plan_sized_count

    def spy(*args):
        widths.append(real(*args))
        return widths[-1]

    monkeypatch.setattr(C, "plan_sized_count", spy)
    # derived from plan bytes, >= 1, capped
    C.inverted_index(docs, min_df=1)
    assert 1 <= widths[-1] <= 1024
    # the derivation scales with the per-salt byte budget: a budget the
    # size of the whole input -> 1 salt; a tenth of it -> ~10, capped
    est = estimated_plan_bytes(docs)
    for budget, expect in [(est, 1), (max(1, est // 10), 10)]:
        monkeypatch.setattr(C, "SALT_BYTES", budget)
        C.inverted_index(docs, min_df=1)
        assert abs(widths[-1] - expect) <= 1, (budget, widths[-1], expect)
    # end-to-end: auto mode output == pinned-width output
    a = sorted(map(tuple, C.inverted_index(docs, min_df=1).collect()))
    b = sorted(map(tuple, C.inverted_index(docs, min_df=1, n_salts=5).collect()))
    assert a == b
