"""Benchmark decontamination (SURVEY.md §2.8 extension).

Training corpora must not contain evaluation data. The standard public
recipe (GPT-3 appendix C; Dodge et al., "Documenting Large Webtext
Corpora", EMNLP 2021) is n-gram overlap: a candidate document is
contaminated to the degree its word n-grams appear anywhere in the
benchmark set.

Scale shape (100 TB corpus vs ~MB-GB benchmark suite):

- Candidate side: one pass, per-row Catalyst shingling (no shuffle), then
  an explode to (doc, gram) — linear, the same blow-up every inverted
  index pays.
- Benchmark side: distinct grams — tiny. Spark's AQE broadcasts the gram
  set automatically when it fits, turning the membership probe into a
  map-side broadcast semi-join with NO shuffle of the corpus. If the
  benchmark outgrows broadcast, the equi-join on the gram key shuffles
  both sides — still linear, never O(n·m).
- ``use_hash=True`` (default) joins on ``xxhash64(gram)`` instead of the
  gram string: 8 bytes per key instead of ~n·8, which at corpus scale is
  the difference between shuffling grams and shuffling fingerprints.
  Contract queries pass False so DuckDB can verify gram-for-gram.

Reference parity: not in the reference (it has no corpus ops at all);
driver-contract extension scope.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import word_shingles_col
from ..caching import tracked_persist


def _gram_key(gram: Column, use_hash: bool) -> Column:
    return F.xxhash64(gram) if use_hash else gram


def contamination_stats(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    use_hash: bool = True,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document contamination vs a benchmark corpus.

    Returns (id, n_grams, n_contaminated, contam_frac) for every candidate
    doc with at least one n-gram: distinct word n-grams, how many of them
    occur anywhere in the benchmark, and the fraction.
    """
    from .dedup import shingle_table

    # The shingle table feeds both the probe explode and the final n_grams
    # projection. Built through the CANONICAL shared shingle_table (same
    # logical plan as the dedup/simjoin tiers at matching n, storageLevel
    # guard included) so a session running dedup AND decontamination
    # tokenizes the corpus once, not once per operator family.
    sh = shingle_table(docs, text_col, id_col, n).withColumnRenamed(
        "shingles", "grams"
    )
    cand = sh.select(id_col, F.explode("grams").alias("gram")).select(
        id_col, _gram_key(F.col("gram"), use_hash).alias("gram_key")
    )
    bench = (
        benchmark.select(
            F.explode(word_shingles_col(F.col(text_col), n)).alias("gram")
        )
        .select(_gram_key(F.col("gram"), use_hash).alias("gram_key"))
        .distinct()
    )
    hits = (
        cand.join(bench, "gram_key", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        sh.select(id_col, F.size("grams").alias("n_grams"))
        .join(hits, id_col, "left")
        .na.fill({"n_contaminated": 0})
        .select(
            id_col,
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_contaminated").cast("long").alias("n_contaminated"),
            F.round(
                F.col("n_contaminated") / F.col("n_grams"), round_digits
            ).alias("contam_frac"),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    max_frac: float = 0.1,
    use_hash: bool = True,
) -> DataFrame:
    """Candidate docs whose benchmark n-gram overlap is ≤ ``max_frac``.

    Docs with no n-grams (shorter than n tokens) carry no contamination
    evidence and are kept — the quality-score tier is responsible for
    degenerate docs, not this one.
    """
    stats = contamination_stats(docs, benchmark, text_col, id_col, n, use_hash)
    dirty = stats.filter(F.col("contam_frac") > max_frac).select(id_col)
    return docs.join(dirty, id_col, "left_anti")


# --------------------------------------------------------------------------
# Bloom-filter membership tier (zero-shuffle corpus probe)
# --------------------------------------------------------------------------

def bloom_parameters(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard Bloom sizing: bits m = -n·ln(p)/ln(2)², hashes k = m/n·ln 2.

    Returned m is rounded up to a multiple of 64 (whole words).
    """
    import math

    if not 0.0 < fpp < 1.0:
        raise ValueError("fpp must be in (0, 1)")
    n = max(n_items, 1)
    m = max(int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))), 64)
    m = ((m + 63) // 64) * 64
    k = max(int(round(m / n * math.log(2))), 1)
    return m, k


def _gram_positions(gram: Column, m: int, k: int) -> Column:
    """array<long> of the gram's k Bloom bit positions: pmod(xxhash64(seed,
    gram), m) for seed 0..k-1 — the same expression builds and probes the
    filter, so both sides agree by construction."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.pmod(F.xxhash64(j, gram), F.lit(m)),
    )


def build_bloom_words(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 5,
    fpp: float = 0.01,
) -> tuple[list[int], int, int]:
    """Fit a Bloom filter over the benchmark's distinct word n-grams.

    Returns (packed 64-bit words as Python ints, m, k). The filter is PACKED
    DISTRIBUTED — each position becomes a (word_index, single-bit mask) pair
    and a bit_or aggregation ORs the masks per word, so the driver collects
    at most m/64 packed longs (~19k rows / 150 KB per 10⁶ benchmark grams at
    1% fpp), never the ~k·n raw positions. Same bounded-fit contract as
    similarity.srp_parameters / the IVF codebook; the CORPUS is never
    collected.
    """
    # Two actions consume this pipeline (the sizing count, then the
    # packed-word collect) — persist so the benchmark shingles once.
    grams = tracked_persist(
        benchmark.select(F.explode(word_shingles_col(F.col(text_col), n)).alias("gram"))
        .distinct()
    )
    m, k = bloom_parameters(grams.count(), fpp)
    packed = (
        grams.select(F.explode(_gram_positions(F.col("gram"), m, k)).alias("pos"))
        .select(
            F.shiftrightunsigned("pos", 6).alias("widx"),
            F.expr("shiftleft(1L, cast(pmod(pos, 64) as int))").alias("mask"),
        )
        .groupBy("widx")
        .agg(F.bit_or("mask").alias("word"))
        .collect()
    )
    # Spark longs are signed; shiftleft(1, 63) already yields the signed
    # two's-complement pattern the shiftrightunsigned probe expects.
    words = [0] * (m // 64)
    for r in packed:
        words[r.widx] = r.word
    return words, m, k


def bloom_contamination_stats(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    fpp: float = 0.01,
    round_digits: int = 6,
) -> DataFrame:
    """Per-doc contamination via a broadcast Bloom filter — the 100 TB path.

    ``contamination_stats`` shuffles (doc, gram) pairs into a semi-join;
    this tier instead probes a benchmark Bloom filter INSIDE the corpus
    scan: the packed filter rides in as a one-row broadcast array<long>
    and every gram tests its k bit positions with pure Catalyst bit
    arithmetic — zero shuffle of the corpus, no Python boundary, false
    positives bounded by ``fpp``, false negatives impossible.

    Output: (id, n_grams, n_contaminated_bloom) — an UPPER BOUND on the
    exact ``n_contaminated``. Pair with the exact tier on a sample for an
    FP-rate evidence column (the contract query does).
    """
    from .dedup import shingle_table

    words, m, k = build_bloom_words(benchmark, text_col, n, fpp)
    spark = docs.sparkSession
    # Arrow local relation, not a pickled 1-row RDD: the filter rides as a
    # broadcast side of every action on this chain, and the pickled path
    # would re-spawn a Python task per action just to deserialize it (r13)
    from ..session import arrow_local_df

    bloom = arrow_local_df(spark, {"bloom_words": [words]}, "bloom_words: array<long>")

    def bit_set_expr(p: Column) -> Column:
        w = F.element_at(F.col("bloom_words"), (p / 64).cast("int") + 1)
        return F.getbit(w, F.pmod(p, F.lit(64))) == 1

    # Canonical shared shingle table (see contamination_stats) — the exact
    # and Bloom tiers probe the SAME cached tokenize pass.
    sh = (
        shingle_table(docs, text_col, id_col, n)
        .withColumnRenamed("shingles", "grams")
        .join(bloom)
    )
    n_hits = F.size(
        F.filter(
            F.col("grams"),
            lambda g: F.forall(_gram_positions(g, m, k), bit_set_expr),
        )
    )
    return sh.select(
        F.col(id_col),
        F.size("grams").cast("long").alias("n_grams"),
        n_hits.cast("long").alias("n_contaminated_bloom"),
    )
