"""Winnowing document fingerprints (rolling-hash k-grams, window minima).

Public algorithm: Schleimer, Wilkerson & Aiken, "Winnowing: Local Algorithms
for Document Fingerprinting", SIGMOD 2003 (the MOSS fingerprinter). The
LLM-pipeline use is copy/containment detection that survives insertions and
reordering better than whole-doc hashes: any shared substring of length
``k + window - 1`` chars guarantees at least one shared fingerprint.

Pipeline (one projection, no shuffle until the consumer aggregates; step 1
runs in Catalyst, steps 2-3 in the Arrow kernel ``kernels.make_winnow_udf``,
whose pure-Catalyst reference is ``winnow_col(kgram_hashes_col(...))``):

1. normalize: lowercase, strip every non-alphanumeric char (MOSS-style, so
   whitespace/punctuation edits don't move fingerprints);
2. k-gram rolling hashes: Horner polynomial hash
   ``h = fold(chars, acc*B + code mod M)`` with B=257, M=1e9+7 — small
   enough that ``(M-1)*B + 122`` stays far inside int64, and expressible
   identically in DuckDB (``list_reduce``) so the oracle can hash-check
   every fingerprint value;
3. winnow: take the min hash of every ``window`` consecutive k-gram hashes,
   distinct — ~2/(window+1) of positions survive, a bounded-density sketch.

Scale shape: per-row O(len·k) work, output ~len·2/(window+1) bigints per
doc; the downstream inverted index (fingerprint -> docs) is one
explode+groupBy — same shape as the shingle index in operators/simjoin.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..caching import tracked_persist

HASH_BASE = 257
HASH_MOD = 1_000_000_007


def _normalize(text: Column) -> Column:
    return F.regexp_replace(F.lower(text), r"[^a-z0-9]", "")


def kgram_hashes_col(text: Column, k: int = 8) -> Column:
    """array<bigint> of rolling k-gram hashes over the normalized text.

    Position i (0-based) hashes chars [i, i+k). Docs shorter than k chars
    get an empty array.

    The char-code array is **let-bound** through a single-element
    ``transform`` so every window position slices the same evaluated array.
    Referencing the raw expression inside the position lambda would make
    Catalyst re-evaluate the whole char-code pipeline once per position —
    O(len²) per row (measured: ~40× slower on real docs).
    """
    norm = _normalize(text)

    def build(codes: Column) -> Column:
        n = F.size(codes)
        horner = lambda gram: F.aggregate(
            gram, F.lit(0).cast("long"), lambda acc, c: (acc * HASH_BASE + c) % HASH_MOD
        )
        hashes = F.transform(
            F.sequence(F.lit(0), n - k), lambda i: horner(F.slice(codes, i + 1, k))
        )
        return F.when(n >= k, hashes).otherwise(F.array().cast("array<bigint>"))

    return F.transform(F.array(F.transform(F.split(norm, ""), F.ascii)), build)[0]


def winnow_col(hashes: Column, window: int = 8) -> Column:
    """Distinct window-minima of a k-gram hash array (the fingerprint set).

    Sequences shorter than ``window`` yield their single overall min —
    matching the algorithm's guarantee that every non-empty doc has >= 1
    fingerprint. The hash array is let-bound (see ``kgram_hashes_col``) so
    the upstream k-gram computation runs once, not once per window.
    """

    def build(h: Column) -> Column:
        n = F.size(h)
        mins = F.transform(
            F.sequence(F.lit(0), n - window),
            lambda j: F.array_min(F.slice(h, j + 1, window)),
        )
        short = F.array(F.array_min(h))
        return F.array_distinct(F.when(n >= window, mins).when(n > 0, short).otherwise(h))

    return F.transform(F.array(hashes), build)[0]


def winnow_fps_col(text: Column, k: int = 8, window: int = 8) -> Column:
    """Distinct winnowed fingerprints of raw text, as array<bigint>.

    Normalizes JVM-side and runs the rolling-hash + window-min kernel
    Arrow-vectorized (functions/kernels.make_winnow_udf) — measured ~10×
    over the interpreted-HOF twin ``winnow_col(kgram_hashes_col(...))``,
    which stays as the reference the kernel is parity-tested against
    (same values; only intra-array order differs, and every consumer
    explodes).
    """
    from .kernels import make_winnow_udf

    return make_winnow_udf(k, window)(_normalize(text))


def fingerprint_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 8,
    persist: bool = True,
) -> DataFrame:
    """Canonical exploded ``(id, fingerprint)`` table — the winnowing twin
    of ``dedup.shingle_table``: every fingerprint consumer
    (``winnow_fingerprints``, ``fingerprint_containment_pairs``) constructs
    this EXACT plan, so the first persisted copy substitutes into every
    later consumer and the rolling-hash winnow pass over the corpus runs
    once per (corpus, k, window) per session. Already-cached plans are
    reused, not re-registered (same guard as shingle_table)."""
    from ..operators.skew import fan_out

    fp = fan_out(df).select(
        F.col(id_col),
        F.explode(winnow_fps_col(F.col(text_col), k, window)).alias("fingerprint"),
    )
    if persist:
        from ..caching import tracked_persist_shared

        fp = tracked_persist_shared(fp)
    return fp


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 8,
) -> DataFrame:
    """Exploded fingerprint table (id, fingerprint) — one row per distinct
    winnowed hash per document, deterministically ordered. The natural
    input to an inverted fingerprint index for containment/plagiarism
    detection. Rides the canonical shared ``fingerprint_table``."""
    return fingerprint_table(df, text_col, id_col, k, window).orderBy(
        id_col, "fingerprint"
    )


def fingerprint_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 8,
    threshold: float = 0.5,
    max_df: int = 100,
    round_digits: int = 6,
) -> DataFrame:
    """Copy/containment detection: pairs whose shared winnowed fingerprints
    cover >= ``threshold`` of the SMALLER document's fingerprint set.

    Containment (not Jaccard) is the right measure for "doc B contains doc
    A": a short doc pasted into a long one scores ~1.0 here but near 0 on
    Jaccard. Pipeline: inverted fingerprint index (explode + groupBy) →
    drop fingerprints appearing in more than ``max_df`` docs (boilerplate;
    they contribute no discrimination and their posting lists are the one
    quadratic risk) → pair counts from per-fingerprint self-join → verify
    against per-doc set sizes. Sizes are measured on the same
    df-filtered index so the ratio is internally consistent.

    Scale shape: two shuffles (index build, pair groupBy); pair volume is
    bounded by sum over fingerprints of df², with df <= max_df. The raw
    fingerprint pass comes from the canonical shared ``fingerprint_table``
    built with ``persist=False``: cache substitution works on plan
    CONTAINMENT, so if ``winnow_fingerprints`` already registered the
    canonical table this plan reads it without a scan — but containment
    never registers a second corpus-sized entry of its own (its persisted
    intermediate is the df-filtered ``idx`` below; persisting both would
    double the corpus-scale cache residency for no local benefit).
    """
    fp = fingerprint_table(df, text_col, id_col, k, window, persist=False)
    # df-filter via aggregate + semi-join, NOT a count-over-window: the same
    # shuffle on fingerprint either way, but the window adds a per-partition
    # sort and carries every row through it; the aggregate reduces map-side
    # and the semi-join streams.
    rare = (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("fp_df"))
        .filter(F.col("fp_df") <= max_df)
        .select("fingerprint")
    )
    # The filtered index feeds THREE consumers (sizes, both self-join sides);
    # persist it so the winnowing pass over the text runs once, not three
    # times. ~(len·2/(window+1)) bigint rows per doc — small relative to the
    # corpus it indexes.
    idx = tracked_persist(fp.join(rare, "fingerprint", "left_semi"))
    sizes = idx.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a, b = idx.alias("a"), idx.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    containment = F.col("n_shared").cast("double") / F.least("sz_a", "sz_b").cast("double")
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", F.round(containment, round_digits).alias("containment")
        )
        .filter(F.col("containment") >= threshold)
        .orderBy("id_a", "id_b")
    )
