"""Text-analysis functions: hashtags, tokens, quality scores, fingerprints,
language-ID heuristic.

Hashtag extraction reproduces the reference's
``regexp_extract_all(cleaned_text, '#(\\w+)', 1)``
(reference: consumer/spark_streaming_job.py:136). Everything else is the
LLM-data-pipeline extension surface (SURVEY.md §2.8): all pure Catalyst
expressions (whole-stage codegen, no Python in the hot path), each with a
DuckDB-expressible twin so the driver's oracle can hash-check it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASHTAG_PATTERN = r"#(\w+)"
# BPE-ish word/number/punctuation splitter: word runs, digit runs, or single
# non-space symbols — a deterministic stand-in for a real BPE pre-tokenizer.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def extract_hashtags_col(text: Column) -> Column:
    """``array<string>`` of hashtag bodies, lowercased input expected."""
    return F.regexp_extract_all(text, F.lit(HASHTAG_PATTERN), F.lit(1))


def token_count_col(text: Column) -> Column:
    """Token count under the BPE-ish regex tokenizer."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), F.lit(0)))


def whitespace_token_count_col(text: Column) -> Column:
    """Whitespace token count (split on runs of whitespace).

    Empty/whitespace-only text counts 0 tokens: ``split('')`` yields
    ``['']`` (size 1), the same pitfall dedup._tokens documents — filter
    the empty element so degenerate docs don't score as one-token docs."""
    return F.size(
        F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != F.lit(""))
    )


def stopword_count_col(text: Column) -> Column:
    pat = r"\b(" + "|".join(STOPWORDS) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), F.lit(1)))


def punct_count_col(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), F.lit(0)))


def quality_score_cols(text: Column) -> dict[str, Column]:
    """Document-quality heuristics: length, punctuation ratio, stopword ratio,
    and a composite score in [0, 1]. All integer-ratio arithmetic → no float
    drift vs the DuckDB oracle twin.
    """
    n_chars = F.length(text)
    n_tokens = whitespace_token_count_col(text)
    n_stop = stopword_count_col(text)
    n_punct = punct_count_col(text)
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars.cast("double")).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens.cast("double")).otherwise(F.lit(0.0))
    # Composite: reward presence of stopwords (naturalness), penalize
    # punctuation soup and ultra-short docs.
    score = (
        F.least(n_tokens.cast("double") / F.lit(20.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.2
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "quality_score": score,
    }


def fingerprint_col(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text. Identical in DuckDB (`md5(...)`), so exact-dedup queries
    are oracle-checkable."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(normalized)


# --- PII redaction ----------------------------------------------------------
# Patterns restricted to syntax Java regex (Spark) and RE2 (DuckDB) treat
# identically: char classes, bounded repetition, \b — no backreferences or
# lookaround (RE2 has neither). Order matters: emails first (they contain
# dots and digits that the narrower patterns could nibble at).
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii_col(text: Column) -> Column:
    """Text with emails/phones/IPv4s replaced by typed placeholder tokens.

    The standard pre-training scrub (public recipes: The Pile, FineWeb,
    Dolma all regex-redact contact PII). Pure Catalyst ``regexp_replace``
    chain — whole-stage codegen, no Python; the same rules run verbatim in
    DuckDB (``regexp_replace(..., 'g')``) so redacted output is
    oracle-checkable byte-for-byte.
    """
    out = text
    for _, pattern, token in PII_RULES:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_count_cols(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts (n_email, n_phone, n_ipv4).

    Counted on the progressively-redacted text exactly as ``redact_pii_col``
    rewrites it, so counts always agree with what redaction removed (an
    email's digit runs can otherwise double-count as phone fragments).
    """
    counts: dict[str, Column] = {}
    cur = text
    for kind, pattern, token in PII_RULES:
        counts[f"n_{kind}"] = F.size(
            F.regexp_extract_all(cur, F.lit(pattern), F.lit(0))
        ).cast("long")
        cur = F.regexp_replace(cur, pattern, token)
    return counts


# --- URL domains ------------------------------------------------------------
# Same Java-regex/RE2-compatible constraint as PII_RULES.
DOMAIN_PATTERN = r"https?://([A-Za-z0-9.-]+)"


def extract_domains_col(text: Column) -> Column:
    """``array<string>`` of lowercased host names of the URLs in the text.

    Domain frequency is the standard provenance/quality signal in web-corpus
    curation (domain allow/deny lists, per-domain sampling caps — public
    recipes: C4, RefinedWeb, FineWeb)."""
    return F.transform(
        F.regexp_extract_all(text, F.lit(DOMAIN_PATTERN), F.lit(1)),
        lambda d: F.lower(d),
    )


# --- language-ID heuristic -------------------------------------------------
# Character-class n-gram heuristic: score text against tiny per-language
# marker sets (top function words + diacritics). Returns the argmax language
# code. Deliberately simple and deterministic; real deployments would swap in
# fastText — the operator contract (string column in, code column out) stays.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "is", "of", "to", "you", "that", "it"],
    "es": ["el", "la", "los", "las", "que", "de", "es", "una"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "ich"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "pas"],
    "zh": [],  # handled via CJK character-range detection below
}


def lang_id_col(text: Column) -> Column:
    """Heuristic language-ID over marker-word hit counts; CJK chars force zh;
    fallback 'en'."""
    lowered = F.lower(text)
    scores = {
        lang: F.size(
            F.regexp_extract_all(lowered, F.lit(r"\b(" + "|".join(words) + r")\b"), F.lit(1))
        )
        for lang, words in LANG_MARKERS.items()
        if words
    }
    cjk = F.size(F.regexp_extract_all(text, F.lit(r"[一-鿿]"), F.lit(0)))
    best = F.lit("en")
    best_score = scores["en"]
    for lang, s in scores.items():
        if lang == "en":
            continue
        best = F.when(s > best_score, F.lit(lang)).otherwise(best)
        best_score = F.when(s > best_score, s).otherwise(best_score)
    return F.when(cjk > 0, F.lit("zh")).otherwise(best)


def clean_text_col(text: Column) -> Column:
    """Ingest text normalization: strip control characters (keeping
    tab/newline — carriage returns are stripped, so CRLF folds to LF —
    which the cleaner then canonicalizes), fold typographic
    quotes/dashes to ASCII, collapse runs of spaces/tabs, and trim — the
    standard pre-tokenization cleanup a web-scrape pipeline applies before
    any quality scoring or dedup. Pure regexp columns, fully
    oracle-expressible (same patterns run in RE2/Java regex alike)."""
    t = F.regexp_replace(text, "[\x00-\x08\x0b-\x1f\x7f]", "")
    t = F.regexp_replace(t, "[“”«»]", '"')
    t = F.regexp_replace(t, "[‘’]", "'")
    t = F.regexp_replace(t, "[–—]", "-")
    t = F.regexp_replace(t, "[ \t]+", " ")
    t = F.regexp_replace(t, " ?\n ?", "\n")
    return F.trim(t)
