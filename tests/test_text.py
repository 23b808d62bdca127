"""Golden unit tests for the text-analysis functions (functions/text.py).

The driver corpus is all-English, so the oracle queries never exercise the
multilingual branches of the language-ID heuristic or the degenerate-input
edges of the quality score — these constructed fixtures do.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions.text import (
    extract_hashtags_col,
    fingerprint_col,
    lang_id_col,
    quality_score_cols,
    token_count_col,
    whitespace_token_count_col,
)

SCHEMA = T.StructType([T.StructField("text", T.StringType(), True)])


def _one(spark, text, col):
    return spark.createDataFrame([(text,)], SCHEMA).select(col.alias("v")).head().v


@pytest.mark.parametrize(
    "text,expected",
    [
        ("The cat sat on the mat and it is happy", "en"),
        ("el perro corre por la calle y la casa es una maravilla que ver", "es"),
        ("der Hund und die Katze, das ist nicht ein Problem, ich bin da", "de"),
        ("le chat et les chiens, c'est une belle journée, pas de pluie", "fr"),
        ("今天天气很好", "zh"),
        ("mixed English text with 中文 characters", "zh"),  # CJK wins
        ("xyzzy plugh qwerty", "en"),  # no markers at all -> fallback
    ],
)
def test_lang_id_golden(spark, text, expected):
    assert _one(spark, text, lang_id_col(F.col("text"))) == expected


def test_tokenizers_golden(spark):
    text = "Hello, world! 42 times #great"
    # BPE-ish: Hello , world ! 42 times # great  -> 8
    assert _one(spark, text, token_count_col(F.col("text"))) == 8
    assert _one(spark, text, whitespace_token_count_col(F.col("text"))) == 5
    assert _one(spark, text.lower(), extract_hashtags_col(F.col("text"))) == ["great"]


def test_quality_score_ranks_natural_text_above_soup(spark):
    cols = quality_score_cols(F.col("text"))
    score = lambda t: _one(spark, t, cols["quality_score"])
    natural = score("The quick brown fox jumps over the lazy dog and it is a fine day in the park today")
    soup = score("!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))")
    assert natural > 0.8
    assert soup < 0.3
    # empty text: zero tokens (the [''] split artifact is filtered), so only
    # the no-punctuation term contributes
    assert score("") == pytest.approx(0.2)


def test_fingerprint_normalizes_whitespace_and_case(spark):
    a = _one(spark, "Hello   World", fingerprint_col(F.col("text")))
    b = _one(spark, "  hello world ", fingerprint_col(F.col("text")))
    c = _one(spark, "hello worlds", fingerprint_col(F.col("text")))
    assert a == b != c


def test_pii_redaction_golden(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions.text import (
        pii_count_cols,
        redact_pii_col,
    )

    text = (
        "mail alice.smith+spam@sub.example.co.uk or bob@x.io, "
        "call +1 555-123-4567 or 555 987 6543, host 192.168.0.1 done"
    )
    assert _one(spark, text, redact_pii_col(F.col("text"))) == (
        "mail <EMAIL> or <EMAIL>, call +1 <PHONE> or <PHONE>, host <IP> done"
    )
    counts = pii_count_cols(F.col("text"))
    assert _one(spark, text, counts["n_email"]) == 2
    assert _one(spark, text, counts["n_phone"]) == 2
    assert _one(spark, text, counts["n_ipv4"]) == 1
    clean = "no personal data here at all"
    assert _one(spark, clean, redact_pii_col(F.col("text"))) == clean


def test_pii_email_digits_not_double_counted_as_phone(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions.text import (
        pii_count_cols,
    )

    # digits that could look phone-ish live inside the email; counting on the
    # progressively redacted text must not see them
    text = "reach 123-456-7890abc@example.com please"
    counts = pii_count_cols(F.col("text"))
    assert _one(spark, text, counts["n_email"]) == 1
    assert _one(spark, text, counts["n_phone"]) == 0


def test_repetition_stats_golden(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.operators.corpus import (
        repetition_stats,
    )

    rows = [
        (1, "a b a b a b"),        # bigrams: ab ba ab ba ab -> 5 total, 2 distinct
        (2, "w x y z"),            # 3 distinct bigrams, no repeats
        (3, ""),                   # no grams -> excluded
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_stats(df, n=2).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_grams"] == 5 and out[1]["n_distinct"] == 2
    assert out[1]["dup_frac"] == 0.6
    assert out[1]["top_gram_share"] == 0.6  # "a b" appears 3/5
    assert out[2]["dup_frac"] == 0.0 and out[2]["top_gram_share"] == pytest.approx(1 / 3, abs=1e-6)


def test_url_and_domain_extraction(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions.text import (
        extract_domains_col,
    )

    text = (
        "read https://Docs.Example.org/a/b?q=1 and http://cdn.example.net "
        "but not ftp://old.example.com nor plain example.org"
    )
    domains = _one(spark, text, extract_domains_col(F.col("text")))
    assert domains == ["docs.example.org", "cdn.example.net"]
    assert _one(spark, "no links here", extract_domains_col(F.col("text"))) == []


def test_clean_text_col_goldens(spark):
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions.text import (
        clean_text_col,
    )
    from pyspark.sql import functions as F

    cases = [
        ("“smart” ‘quotes’", "\"smart\" 'quotes'"),
        ("a\x07b\x00c", "abc"),                       # control chars stripped
        ("tabs\t\tand  runs", "tabs and runs"),       # whitespace collapsed
        ("en–dash em—dash", "en-dash em-dash"),
        ("  padded  \n  line  ", "padded\nline"),     # newline tidied, trimmed
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], ["t"])
    got = [r.c for r in df.select(clean_text_col(F.col("t")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_empty_text_counts_zero_tokens(spark):
    from pyspark.sql import functions as F
    from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions.text import (
        whitespace_token_count_col,
        clean_text_col,
    )

    df = spark.createDataFrame([("",), ("   ",), ("two words",)], ["t"])
    got = [r.n for r in df.select(whitespace_token_count_col(F.col("t")).alias("n")).collect()]
    assert got == [0, 0, 2]
    # CRLF folds to LF: carriage returns are stripped control chars
    out = (
        spark.createDataFrame([("line1\r\nline2",)], ["t"])
        .select(clean_text_col(F.col("t")).alias("c"))
        .first()
        .c
    )
    assert out == "line1\nline2"
