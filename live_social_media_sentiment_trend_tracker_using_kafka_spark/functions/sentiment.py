"""Sentiment scoring.

The reference scores each post with VADER's compound score via a row-at-a-time
Python UDF (reference: consumer/spark_streaming_job.py:14-25,39) and labels it
with VADER's published ±0.05 thresholds (:27-36). Two upgrades here:

1. The scorer, ``sentiment_score_col``, is a **Catalyst expression** — the
   reference's BatchEvalPython boundary was its throughput cliff (SURVEY.md
   §3.2), and with no Python stage the enrichment plan starts no Python
   workers. Only when the real ``vaderSentiment`` imports does it fall back to
   a vectorized pandas UDF (Arrow batches, not per-row pickling).
2. The label derivation is **pure Catalyst SQL** (``when/otherwise``) — no
   UDF at all, so it stays inside whole-stage codegen.

``vaderSentiment`` is not installed in this container, so the scorer vendors a
compact VADER-*style* lexicon model (public-knowledge design: signed word
valences, simple negation flip, compound normalization s/sqrt(s^2+15)). It is
deterministic and unit-tested against hand-computed golden values; the class
of output is identical (float in [-1, 1], same thresholds). When the real
``vaderSentiment`` package is importable we use it instead, preserving exact
reference parity.

The Catalyst scorer is bit-identical to ``vendored_score_text`` (pinned by a
property test over every ``str.isspace`` character, the strip set,
contractions, mixed case, ``İ`` and the Kelvin sign). Two engines still do
parts of the work: Spark's ``lower`` lowercases where Python's ``str.lower``
did, and the whitespace set is Python's, derived at import. They agree on
every character that can lower into a lexicon word or negator (all ASCII;
the Kelvin sign lowers to ``k`` in both, ``İ`` to ``i`` plus U+0307 in both),
and U+200B, which is not whitespace in Python, splits in neither. No
divergence is known; a character whose lowercase differs between the JVM's
and Python's Unicode tables could only move a score if it lowered to ASCII.

For oracle-checkable queries there is additionally ``sql_lexicon_score_col``:
a *simpler* pure-SQL scorer (signed word-count ratio) expressible identically
in Spark and DuckDB — integer-ratio arithmetic, so zero float drift between
engines.
"""

from __future__ import annotations

import math
import sys

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..caching import memo

try:  # exact reference parity when available
    from vaderSentiment.vaderSentiment import SentimentIntensityAnalyzer

    _VADER = SentimentIntensityAnalyzer()
except Exception:  # pragma: no cover - not installed in this container
    _VADER = None

# Compact signed-valence lexicon (VADER-style scale, roughly [-4, 4]).
# Curated here from common English sentiment words; includes every sentiment
# word appearing in the reference's embedded sample feed
# (producer/kafka_producer.py:49-68).
_LEXICON: dict[str, float] = {
    # positive
    "love": 3.2, "loved": 3.0, "loves": 3.2, "amazing": 2.8, "awesome": 3.1,
    "great": 3.1, "good": 1.9, "happy": 2.7, "excellent": 3.2, "best": 3.2,
    "fantastic": 2.9, "wonderful": 2.7, "perfect": 2.7, "nice": 1.8,
    "brilliant": 2.8, "excited": 2.4, "exciting": 2.2, "enjoy": 2.0,
    "enjoyed": 2.0, "like": 1.5, "liked": 1.6, "win": 2.8, "winner": 2.8,
    "beautiful": 2.9, "impressive": 2.3, "recommend": 1.6, "thanks": 1.9,
    "thank": 1.9, "glad": 2.0, "cool": 1.3, "fast": 1.2, "helpful": 1.9,
    "easy": 1.6, "smooth": 1.4, "reliable": 1.7, "improved": 1.6,
    # negative
    "terrible": -2.9, "awful": -2.7, "bad": -2.5, "worst": -3.1,
    "hate": -2.7, "hated": -2.9, "horrible": -2.8, "disappointed": -2.0,
    "disappointing": -2.1, "angry": -2.3, "sad": -2.1, "poor": -2.0,
    "broken": -1.9, "slow": -1.3, "bug": -1.6, "bugs": -1.6, "crash": -2.2,
    "crashed": -2.2, "fail": -2.4, "failed": -2.4, "failure": -2.4,
    "useless": -2.4, "waste": -2.2, "annoying": -2.0, "frustrating": -2.2,
    "scam": -2.9, "ugly": -2.3, "wrong": -1.7, "problem": -1.6,
    "problems": -1.6, "issue": -1.1, "issues": -1.1, "never": -1.0,
    "expensive": -1.1, "confusing": -1.6,
}

_NEGATORS = {"not", "no", "never", "neither", "nor", "cannot", "cant", "dont",
             "doesnt", "didnt", "wont", "isnt", "wasnt", "arent", "werent"}
_NEGATION_FLIP = -0.74  # VADER's published negation constant
_ALPHA = 15.0  # VADER's published normalization constant
# One strip set including '#': "(#love)" must shed BOTH the parens and the
# hash (strip("#") first was a no-op when punctuation wrapped it).
_STRIP = ".,!?;:'\"()[]#"
# Every character Python's ``str.split()`` splits on, derived at import so
# the Catalyst tokenizer can map each one to ' ' before a literal split.
_WHITESPACE = "".join(filter(str.isspace, map(chr, range(sys.maxunicode + 1))))

# Word lists for the pure-SQL (oracle-twin) scorer — subset chosen so the
# same regex alternation runs identically under Java regex and RE2.
POS_WORDS = [
    "love", "amazing", "awesome", "great", "good", "happy", "excellent",
    "best", "fantastic", "wonderful", "perfect", "nice", "fast",
]
NEG_WORDS = [
    "terrible", "awful", "bad", "worst", "hate", "horrible", "disappointed",
    "angry", "sad", "poor", "slow", "broken", "fail",
]


def vendored_score_text(text: str | None) -> float:
    """The vendored-lexicon compound scorer — always available, always the
    same values, regardless of whether vaderSentiment is importable (so
    golden tests exercise THIS path explicitly even on images that ship the
    real package)."""
    if text is None or not text.strip():
        return 0.0
    tokens = [t.strip(_STRIP) for t in text.lower().split()]
    s = 0.0
    prev_negated = False
    for tok in tokens:
        v = _LEXICON.get(tok)
        if v is not None:
            s += v * (_NEGATION_FLIP if prev_negated else 1.0)
        # negator set stores apostrophe-free forms; fold "don't" -> "dont"
        # so real contractions actually negate (VADER's NEGATE list carries
        # both spellings for the same reason)
        prev_negated = tok.replace("'", "") in _NEGATORS
    if s == 0.0:
        return 0.0
    return s / math.sqrt(s * s + _ALPHA)


def _vendored_score_col(text: Column) -> Column:
    """``vendored_score_text`` as one Catalyst expression, step for step:
    lower, split on whitespace (dropping the empty strings ``split()`` never
    yields, so they cannot reset negation), strip, then fold the tokens
    carrying the running sum and the previous token's negation flag. The
    normalization runs in ``aggregate``'s finish lambda so the fold is
    evaluated once per row (written outside, each reference to the sum
    re-evaluates the whole ``aggregate``)."""
    spaced = F.translate(F.lower(text), _WHITESPACE, " " * len(_WHITESPACE))
    tokens = F.transform(
        F.filter(F.split(spaced, " "), lambda t: t != ""),
        lambda t: F.btrim(t, F.lit(_STRIP)),
    )
    lexicon = F.create_map(*(F.lit(x) for kv in _LEXICON.items() for x in kv))

    def step(acc: Column, tok: Column) -> Column:
        flip = F.when(acc["neg"], F.lit(_NEGATION_FLIP)).otherwise(F.lit(1.0))
        # isin is a hash-set probe; the map lookup it guards is a key scan
        s = F.when(tok.isin(*_LEXICON), acc["s"] + lexicon[tok] * flip).otherwise(acc["s"])
        neg = F.replace(tok, F.lit("'"), F.lit("")).isin(*sorted(_NEGATORS))
        return F.struct(s.alias("s"), neg.alias("neg"))

    def finish(acc: Column) -> Column:
        return acc["s"] / F.sqrt(acc["s"] * acc["s"] + F.lit(_ALPHA))

    init = F.struct(F.lit(0.0).alias("s"), F.lit(False).alias("neg"))
    return F.coalesce(F.aggregate(tokens, init, step, finish), F.lit(0.0))


def score_text(text: str | None) -> float:
    """Deterministic compound score in [-1, 1]; None/empty/error → 0.0
    (reference semantics: spark_streaming_job.py:17-25). Prefers the real
    VADER when importable; falls back to the vendored lexicon scorer."""
    if _VADER is not None:
        if text is None or text.strip() == "":
            return 0.0
        return float(_VADER.polarity_scores(text)["compound"])
    return vendored_score_text(text)


def _score_series(texts: pd.Series) -> pd.Series:
    return texts.map(score_text).astype("float64")


def sentiment_score_pandas_udf(text: Column | str) -> Column:
    """Arrow-vectorized scorer of ``text``; ``sentiment_score_col`` uses it
    only for the real VADER. The UDF is built once per Spark application
    (``caching.memo``): one built at import would bind the first
    SparkContext, and every task in a later session would then log a
    ``Failed to update accumulator`` error."""
    udf = memo(
        SparkSession.active(),
        ("sentiment_udf",),
        lambda: pandas_udf(_score_series, DoubleType()),
    )
    return udf(text)


def sentiment_score_col(text: Column) -> Column:
    """The compound score of ``text`` as a column, null → 0.0: the real
    VADER through the pandas UDF when it imports (as ``score_text``
    dispatches), otherwise the vendored scorer as a Catalyst expression,
    with no Python worker in the plan."""
    if _VADER is not None:
        return sentiment_score_pandas_udf(text)
    return _vendored_score_col(text)


def sentiment_label_col(score: Column) -> Column:
    """±0.05 label thresholds as pure SQL — no UDF
    (reference semantics: spark_streaming_job.py:27-36; null → neutral)."""
    return (
        F.when(score >= 0.05, F.lit("positive"))
        .when(score <= -0.05, F.lit("negative"))
        .otherwise(F.lit("neutral"))
    )


def _word_regex(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def sql_lexicon_score_col(text: Column) -> Column:
    """Oracle-twin scorer: (pos_hits - neg_hits) / (pos_hits + neg_hits).

    Integer-count ratio → bit-identical across Spark and DuckDB. Zero when no
    lexicon word matches. See ``oracle_sql`` in __spark_entry__.py for the
    DuckDB twin expression.
    """
    lowered = F.lower(text)
    pos = F.size(F.regexp_extract_all(lowered, F.lit(_word_regex(POS_WORDS)), F.lit(1)))
    neg = F.size(F.regexp_extract_all(lowered, F.lit(_word_regex(NEG_WORDS)), F.lit(1)))
    total = pos + neg
    return F.when(total > 0, (pos - neg).cast("double") / total.cast("double")).otherwise(F.lit(0.0))


def sql_lexicon_score_duckdb(text_expr: str = "text") -> str:
    """The DuckDB SQL twin of ``sql_lexicon_score_col`` (same regexes)."""
    pos = f"len(regexp_extract_all(lower({text_expr}), '{_word_regex(POS_WORDS)}', 1))"
    neg = f"len(regexp_extract_all(lower({text_expr}), '{_word_regex(NEG_WORDS)}', 1))"
    return (
        f"CASE WHEN ({pos} + {neg}) > 0 "
        f"THEN CAST(({pos} - {neg}) AS DOUBLE) / CAST(({pos} + {neg}) AS DOUBLE) "
        f"ELSE 0.0 END"
    )
