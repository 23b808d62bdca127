"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.8).

Not present in the reference (it has no dedup at all); designed Spark-first
for 100 TB corpora:

- **exact_dedup** — md5 fingerprint of normalized text, keep min-id per
  group. One hash-aggregate shuffle on the 128-bit key; oracle-checkable.
- **minhash signatures** — computed **per-row** with Catalyst higher-order
  functions (``transform``/``array_min``/``xxhash64``): no explode, no
  shuffle, no Python. O(num_hashes × shingles) JVM work per row.
- **LSH banding** — signature sliced into bands, docs exploded to
  (band, band_hash) rows (num_bands rows per doc — the only blow-up, linear),
  hash-shuffled once; buckets with >1 doc yield candidate pairs.
- **verify** — exact n-gram Jaccard (``array_intersect``/``array_union`` on
  distinct shingles) only on candidate pairs — never O(n²).
- **simhash** — 64-bit signature via per-bit majority vote over token hashes,
  all in one Catalyst expression; near-dup candidates via Manku-style
  multi-block banding (Hamming ≤ d ⇒ some (blocks−d)-subset of blocks
  equal; ~32-bit bucket keys keep intra-bucket joins linear at corpus
  scale), verified with ``bit_count(xor)``.

Embedding-cosine near-dup lives in operators/similarity.py.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint_col
from ..caching import tracked_persist
from .skew import fan_out

# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("fingerprint", fingerprint_col(F.col(text_col)))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each exact (normalized) text group.

    Aggregating (min id, count) per fingerprint instead of dropDuplicates
    makes the keep-rule deterministic and gives the dup count for free.
    """
    return (
        with_fingerprint(df, text_col)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def dup_rate_by_source(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Dedup observability: per ``source``, how much of the slice is exact
    duplicate text — the report a 100 TB ingestion pipeline runs per feed
    to find which upstream is flooding the corpus with copies.

    A doc counts as duplicated if its normalized-text fingerprint appears
    more than once in the WHOLE corpus (cross-source copies count for both
    sources). Two shuffles at any scale: a window count over the
    fingerprint partitioning (corpus-sized, but carries only
    (source, fingerprint)), then the per-source roll-up. No joins, no
    collect.

    Output: (source, n_docs, n_dup_docs, dup_rate, n_distinct_texts).
    """
    from pyspark.sql import Window

    fp = with_fingerprint(df, text_col).select("source", "fingerprint")
    corpus_count = F.count(F.lit(1)).over(Window.partitionBy("fingerprint"))
    return (
        fp.withColumn("dup", (corpus_count > 1).cast("int"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dup").alias("n_dup_docs"),
            F.round(F.sum("dup") / F.count(F.lit(1)), 6).alias("dup_rate"),
            F.countDistinct("fingerprint").alias("n_distinct_texts"),
        )
        .orderBy("source")
    )


def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Only the fingerprint groups that actually have duplicates."""
    return (
        exact_dedup(df, text_col, id_col)
        .filter(F.col("dup_count") > 1)
        .orderBy(F.desc("dup_count"), F.asc("keep_id"))
    )


# --------------------------------------------------------------------------
# Shingles + MinHash
# --------------------------------------------------------------------------

def _tokens(text: Column) -> Column:
    """Normalized word tokens, with empty strings filtered out.

    Without the filter, empty/punctuation-only text yields [''] (split of an
    empty string), giving every degenerate doc the same non-empty shingle set
    {''} — and therefore a shared MinHash/SimHash signature that welds all of
    them into one giant mutual near-dup bucket. Degenerate docs now tokenize
    to an empty array and are excluded from near-dup banding entirely
    (exact_dedup still groups them by fingerprint).
    """
    raw = F.split(F.trim(F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", " ")), r"\s+")
    return F.filter(raw, lambda t: t != F.lit(""))


# Public name for the normalized word tokenizer — other operators (heavy
# hitters, simjoin) share it so their oracles share one token definition.
word_tokens_col = _tokens


def word_grams_col(text: Column, n: int = 3) -> Column:
    """Word n-grams WITH multiplicity as array<string> (per-row, no shuffle).

    The token array is **let-bound** through a single-element ``transform`` so
    the gram-builder lambda sees a bound variable: referencing the raw token
    expression inside the lambda would re-run the whole
    regexp_replace+split tokenization once per gram position (measured 7×
    slower at sf0.1).
    """
    def build(toks: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
        # Token-less docs produce one empty gram — drop it so degenerate docs
        # get an EMPTY gram list, not a shared {''} singleton.
        return F.filter(grams, lambda g: g != F.lit(""))

    return F.transform(F.array(_tokens(text)), build)[0]


def word_shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string> (per-row, no shuffle)."""
    return F.array_distinct(word_grams_col(text, n))


def shingle_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Canonical persisted ``(id, shingles)`` table shared by every
    shingle-consuming operator (MinHash-LSH, exact prefix-filter join, the
    cleaning chains).

    All consumers construct this EXACT logical plan, so Spark's cache
    manager substitutes the first persisted copy into every later plan that
    contains it — one tokenize+shingle pass per (corpus, n) per session
    instead of one per operator. At 100 TB that pass dominates; measured
    ~2x on a full registry sweep at sf0.1. If the plan is already cached
    (a prior operator persisted it) the existing entry is reused rather
    than re-registered, so bounded cache trimming (caching.trim) sees one
    handle per distinct corpus.
    """
    # Drop empty shingle sets via explode(filter(array(...))) instead of a
    # .filter(size > 0) predicate: a deterministic predicate on the
    # projected column is PUSHED below the fan_out exchange, where it
    # re-evaluates the whole tokenize+shingle kernel once per row ON THE
    # UNSPLIT SCAN TASK (single row-group parquet = 1 task) and then the
    # projection computes it AGAIN on the survivors — measured 0.91 s vs
    # 0.44 s for the kernel alone at sf0.1 (r13; plan evidence in
    # plans/r13/minhash_near_dups_pushdown_{before,after}.txt). The single-element
    # higher-order filter evaluates the kernel ONCE, above the exchange,
    # and explode drops the empty rows — bit-identical output (explode of
    # an empty/NULL-pruned wrapper emits no row, exactly filter(size>0)).
    from ..caching import tracked_persist_shared

    return tracked_persist_shared(
        fan_out(df).select(
            F.col(id_col),
            F.explode(
                F.filter(
                    F.array(word_shingles_col(F.col(text_col), n)),
                    lambda a: F.size(a) > 0,
                )
            ).alias("shingles"),
        )
    )


def minhash_signature_col(shingles: Column, num_hashes: int = 32) -> Column:
    """MinHash signature (array<bigint>, one min per seeded hash family).

    ``xxhash64(seed, shingle)`` gives num_hashes independent 64-bit hash
    functions. Implemented as ONE ``aggregate`` pass over the shingle array
    carrying the running-min vector — a per-family ``array_min`` unrolling
    would reference (and, after projection collapse, recompute) the shingle
    expression num_hashes times and blow the whole-stage-codegen method size;
    measured ~10× slower. Entirely per-row, no shuffle.
    """
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    init = F.array_repeat(F.lit(0x7FFFFFFFFFFFFFFF).cast("long"), num_hashes)
    return F.aggregate(
        shingles,
        init,
        lambda acc, s: F.zip_with(acc, seeds, lambda m, j: F.least(m, F.xxhash64(j, s))),
    )


def with_minhash(
    df: DataFrame, text_col: str = "text", n: int = 3, num_hashes: int = 32
) -> DataFrame:
    return df.withColumn("shingles", word_shingles_col(F.col(text_col), n)).withColumn(
        "minhash", minhash_signature_col(F.col("shingles"), num_hashes)
    )


def _validate_banding(num_hashes: int, bands: int) -> int:
    """Bands must tile the signature exactly: a non-divisor silently drops
    hash families (recall differs from the requested banding), and
    bands > num_hashes gives zero-width slices — every doc hashes the empty
    array into ONE bucket and the self-join degenerates to all-pairs."""
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) exactly"
        )
    return num_hashes // bands


def banded_signature_keys(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    out_id: str | None = None,
) -> DataFrame:
    """(id, band, bucket) LSH keys from a (id, minhash) table — the ONE
    banding construction shared by the self-join and batch-vs-corpus paths
    (both sides must stay bit-identical or cross buckets stop matching).

    One reference to the signature per row: bands are built by a transform
    over band indices, each hashing an array *slice* of the signature — not
    per-element indexing, which would re-reference (and recompute, post
    projection-collapse) the signature expression num_hashes times.
    """
    rows_per_band = _validate_banding(num_hashes, bands)
    out = out_id or id_col
    return sigs.select(
        F.col(id_col).alias(out),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice(F.col("minhash"), b * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(out, "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded MinHash.

    Explode each doc to ``bands`` (band_id, band_hash) rows, shuffle once on
    the bucket key, and emit intra-bucket pairs via a self-equi-join on the
    bucket. Bucket sizes are tiny for any sane band width, so the join output
    is ~linear; a hot bucket (degenerate shingle) is the skew risk — AQE skew
    join handles it, and callers can pre-filter boilerplate docs.
    """
    banded = banded_signature_keys(df, id_col, num_hashes, bands)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col(f"l.band") == F.col(f"r.band"))
            & (F.col(f"l.bucket") == F.col(f"r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    shingle_corpus: DataFrame | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup: candidates → exact Jaccard verify.

    Returns (id_a, id_b, jaccard) with jaccard ≥ threshold, ordered
    deterministically. The exact-Jaccard join touches only candidate pairs.

    The shingle table feeds three plan branches (banding, verify-left,
    verify-right), so it is persisted (memory-and-disk, via the shared
    canonical ``shingle_table``): the tokenize/shingle computation runs
    once per row instead of three times — at corpus scale this is the
    difference between one and three full text passes — and is
    substituted into any OTHER shingle consumer in the same session (exact
    prefix-filter join, cleaning chains). The MinHash aggregate itself is
    computed off the cached shingles in a single branch (banding), so it
    needs no persist of its own.

    ``shingle_corpus``: a SUPERSET corpus whose canonical shingle table
    should be (re)used — the table is restricted to ``df``'s ids by
    semi-join, so a filtered-subset caller (the cleaning chains) rides the
    session-shared cache instead of re-tokenizing its subset. Pairs are
    still emitted only within ``df``.
    """
    base = shingle_table(
        shingle_corpus if shingle_corpus is not None else df,
        text_col,
        id_col,
        n,
    )
    if shingle_corpus is not None:
        base = base.join(df.select(id_col), id_col, "left_semi")
    sigs = base.select(
        F.col(id_col), minhash_signature_col(F.col("shingles"), num_hashes).alias("minhash")
    )
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    return _verify_jaccard(cands, base, base, id_col, threshold).orderBy(
        "id_a", "id_b"
    )


def _verify_jaccard(
    cands: DataFrame,
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify of MinHash-LSH candidate pairs — the one verify
    step of both MinHash paths. ``cands``' two columns name the left and
    right ids; ``left``/``right`` are ``(id_col, shingles)`` tables. Returns
    ``(left id, right id, jaccard)`` for pairs with jaccard ≥ threshold,
    rounded to 6 places, unordered."""
    ka, kb = cands.columns

    # The verify sides carry full shingle ARRAYS — data-sized, growing with
    # the corpus. Pin them to sort-merge joins: measured at 20× sf0.1 the
    # planner broadcast the cached table off a stale size estimate and
    # GC-thrashed the driver (and a shuffle-hash build OOMs under memory
    # pressure — SMJ spills). A broadcast of a corpus-sized side can never
    # be right; the shuffle stays linear in candidates.
    def side(base: DataFrame, key: str, arr: str) -> DataFrame:
        sh = base.select(F.col(id_col), F.col("shingles")).hint("merge")
        return sh.withColumnRenamed(id_col, key).withColumnRenamed("shingles", arr)

    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    # Threshold via explode(filter(array(jac))): filtering on the exact
    # ratio and THEN projecting the rounded value evaluates the
    # array_intersect/array_union arithmetic twice per candidate pair
    # (the predicate cannot be pushed below the join, but it is still a
    # separate evaluation from the projection's). The single-element
    # higher-order filter computes the exact ratio once; rounding stays
    # display-only, so the no-false-negatives contract is unchanged (r13).
    return (
        cands.join(side(left, ka, "sh_a"), ka)
        .join(side(right, kb, "sh_b"), kb)
        .select(
            ka,
            kb,
            F.explode(
                F.filter(F.array(jac), lambda j: j >= threshold)
            ).alias("_jac"),
        )
        .select(ka, kb, F.round("_jac", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """n-gram Jaccard near-dup with a *recall-oriented* LSH front end
    (more/narrower bands → catches lower-similarity pairs than
    ``minhash_near_duplicates``'s default)."""
    return minhash_near_duplicates(df, text_col, id_col, n, num_hashes, bands, threshold)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_from_tokens_col(tokens: Column) -> Column:
    """64-bit SimHash from an already-tokenized array, as bigint, per-row.

    bit_i(simhash) = majority over tokens of bit_i(xxhash64(token)).
    ONE ``aggregate`` pass over the token hashes carries all 63 vote counters
    (a per-bit aggregate would traverse — and post-collapse recompute — the
    token-hash array 63 times and overflow codegen method limits). The vote
    vector then folds into the bigint via a literal power-of-two weight array.
    """
    bit_idx = F.sequence(F.lit(0), F.lit(62))  # keep the sign bit clear
    votes = F.aggregate(
        F.transform(tokens, lambda t: F.xxhash64(t)),
        F.array_repeat(F.lit(0), 63),
        lambda acc, h: F.zip_with(
            acc,
            bit_idx,
            lambda v, i: v
            + (F.call_function("shiftright", h, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("int"),
        ),
    )
    weights = F.array(*[F.lit(1 << i).cast("long") for i in range(63)])
    bits = F.zip_with(votes, weights, lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long")))
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc.bitwiseOR(b))


def _simhash_blocks(blocks: int, bits: int = 63) -> list[tuple[int, int]]:
    """Partition the low ``bits`` bit positions into (start, length) blocks."""
    base, extra = divmod(bits, blocks)
    out, start = [], 0
    for i in range(blocks):
        ln = base + (1 if i < extra else 0)
        out.append((start, ln))
        start += ln
    return out


def simhash_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 6,
) -> DataFrame:
    """Candidate pairs (id_a, id_b, hamming) from multi-block SimHash banding.

    Manku-style banding (Manku, Jain & Das Sarma, "Detecting Near-Duplicates
    for Web Crawling", WWW 2007 — public): partition the 63 usable signature
    bits into ``blocks`` blocks. A pair within Hamming distance d differs in
    at most d blocks, so it AGREES on some (blocks−d)-subset — keying every
    C(blocks, blocks−d) block combination gives complete candidates.

    Why not naive 4×16-bit chunks (one chunk equal): a 16-bit key means at
    most 65,536 buckets, so at 10⁹+ docs each bucket holds ~15k docs and the
    intra-bucket self-join goes quadratic. With blocks=6, d=3 the key is 3
    blocks ≈ 32 bits (≈4·10⁹ buckets) across C(6,3)=20 tables: 5× the banding
    rows, but expected bucket size drops by ~6·10⁴× — the join stays linear
    at corpus scale. Hamming is verified exactly with ``bit_count(xor)``.
    """
    if not 0 < max_hamming < blocks:
        raise ValueError("need 0 < max_hamming < blocks for pigeonhole banding")
    block_vals = [
        F.shiftright("simhash", start).bitwiseAND(F.lit((1 << ln) - 1))
        for start, ln in _simhash_blocks(blocks)
    ]
    tables = [
        F.struct(
            F.lit(t).alias("tbl"),
            F.xxhash64(*[block_vals[i] for i in combo]).alias("key"),
        )
        for t, combo in enumerate(combinations(range(blocks), blocks - max_hamming))
    ]
    banded = signatures.select(
        id_col, "simhash", F.explode(F.array(*tables)).alias("tk")
    ).select(id_col, "simhash", "tk.tbl", "tk.key")
    l, r = banded.alias("l"), banded.alias("r")
    hamming = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    return (
        l.join(
            r,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, simhash) signature table; token-less docs excluded.

    The vote is pure Catalyst (``simhash_from_tokens_col``): measured FASTER than an
    Arrow pandas-UDF kernel once the input is properly parallel
    (``fan_out``) — 1.4 s vs 2.8 s full-pipeline at sf0.1/local[32] —
    because the kernel pays an Arrow boundary without enough per-row work
    to amortize it.
    """
    from .skew import fan_out

    df = fan_out(df)
    # explode(filter(array(...))) instead of a size predicate: the pushed
    # filter would re-run the tokenizer below the fan_out exchange — once
    # per row on the unsplit scan task — and the signature expression would
    # tokenize AGAIN above it (see shingle_table, r13). The Generate
    # emits the non-empty token array once; the signature reads the bound
    # column. Bit-identical output either path.
    toked = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.array(_tokens(F.col(text_col))), lambda a: F.size(a) > 0
            )
        ).alias("__tk"),
    )
    return toked.select(
        F.col(id_col), simhash_from_tokens_col(F.col("__tk")).alias("simhash")
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 6,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ max_hamming.

    Multi-block pigeonhole banding (see ``simhash_candidate_pairs``) over
    per-row signatures; token-less (empty/punctuation-only) docs are
    excluded — they have no content to be "near" anything.

    The (id, simhash) table — 16 bytes/doc — is persisted because the
    banding self-join consumes it on both sides; without it the full
    text→signature pass runs twice (per-side) at corpus scale.
    """
    sh = tracked_persist(simhash_signatures(df, text_col, id_col))
    return (
        simhash_candidate_pairs(sh, id_col, max_hamming, blocks)
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )


def incremental_near_duplicates(
    incoming: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Ingest-time near-dup check: pairs (incoming_id, corpus_id, jaccard)
    between a NEW batch and the EXISTING corpus — never corpus × corpus.

    The batch-vs-corpus asymmetry is what makes continuous ingestion
    tractable at 100 TB: the corpus side is banded once (here from the
    session-canonical cached shingle table; a production ingest keeps the
    banded signature table materialized/bucketed on (band, bucket) so each
    arriving batch joins against it with no corpus re-scan), the incoming
    batch — tiny by comparison — is shingled, signed and banded on the
    fly, and candidates are only cross pairs sharing an LSH bucket. Exact
    Jaccard verification touches candidates alone, reading shingles from
    both sides' tables. Output ordered (incoming_id, corpus_id).
    """
    inc_base = shingle_table(incoming, text_col, id_col, n)
    cor_base = shingle_table(corpus, text_col, id_col, n)

    def banded(base: DataFrame, side: str) -> DataFrame:
        sigs = base.select(
            F.col(id_col), minhash_signature_col(F.col("shingles"), num_hashes).alias("minhash")
        )
        # the SAME banding construction as the self-join path — both sides
        # must stay bit-identical or cross buckets stop matching
        return banded_signature_keys(sigs, id_col, num_hashes, bands, out_id=f"{side}_id")

    cands = (
        banded(inc_base, "incoming")
        .join(banded(cor_base, "corpus"), ["band", "bucket"])
        .select("incoming_id", "corpus_id")
        .distinct()
    )
    return _verify_jaccard(cands, inc_base, cor_base, id_col, threshold).orderBy(
        "incoming_id", "corpus_id"
    )
