"""Exact set-similarity join (n-gram Jaccard) via prefix filtering.

Complements the MinHash-LSH near-dup path (operators/dedup.py): LSH is the
probabilistic, tunable-recall tier; this operator returns EXACTLY the pairs
with Jaccard(shingles(a), shingles(b)) >= threshold — no false negatives —
while still never enumerating O(n²) pairs.

Algorithm (public: Chaudhuri/Ganti/Kaushik SSJoin, ICDE 2006; Vernica, Carey
& Li, "Efficient Parallel Set-Similarity Joins Using MapReduce", SIGMOD 2010;
Xiao et al. PPJoin, WWW 2008):

1. Order every document's shingle set by ascending document frequency
   (rarest first), ties broken lexicographically — one global total order.
2. **Prefix filter**: two sets with Jaccard >= t must share at least one
   element among the first ``|s| - ceil(t*|s|) + 1`` elements of each sorted
   set. Index only prefixes; candidates come from a shingle-equality join of
   prefixes — the rarest shingles, so the inverted index has short posting
   lists by construction.
3. **Length filter**: Jaccard >= t implies t*|a| <= |b| <= |a|/t — applied
   inside the candidate join.
4. Exact verify on the candidate pairs only: |a ∩ b| / (|a| + |b| - |a ∩ b|)
   with ``array_intersect`` on the distinct shingle arrays.

Scale shape: one explode+groupBy for document frequencies, one shuffle to
rebuild frequency-sorted shingle arrays, one equi-join on prefix shingles
(AQE handles skew on any residual hot shingle), one join back to verify —
all linear in candidates. The frequency ordering is what keeps the prefix
index from degenerating: common shingles ("in the of") sit at the END of
each sorted set and never enter a prefix at high thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_table
from ..caching import tracked_persist


def frequency_sorted_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(id, shingles sorted by ascending corpus document-frequency, sz).

    ``collect_list`` order is nondeterministic per partition; sorting the
    (df, shingle) structs afterwards makes the array order a pure function
    of the corpus, so every downstream prefix is deterministic.

    Built on the canonical shared ``shingle_table``: the exploded shingle
    relation feeds BOTH the document-frequency aggregate and the join-back
    that rebuilds per-doc arrays, so without the persist the tokenize pass
    would run twice even inside this one operator — and the cached table is
    plan-substituted into the MinHash tier when both run in one session.
    """
    sh = shingle_table(df, text_col, id_col, n)
    ex = sh.select(id_col, F.explode("shingles").alias("shingle"))
    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        ex.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("ranked"))
        .select(
            id_col,
            F.transform("ranked", lambda x: x["shingle"]).alias("shingles"),
            F.size("ranked").alias("sz"),
        )
    )


def jaccard_similarity_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = 3,
    round_digits: int = 6,
    order_corpus: DataFrame | None = None,
) -> DataFrame:
    """All pairs (id_a, id_b, jaccard) with exact n-gram Jaccard >= threshold.

    Exact (prefix filtering admits no false negatives, unlike LSH banding)
    and oracle-checkable: a brute-force SQL twin computes the identical
    answer at test scale. Documents with empty shingle sets (no tokens) are
    excluded — Jaccard is undefined on empty sets.

    The sorted-shingle table is persisted so the prefix branch and both
    verify sides share one tokenization pass (the cache lives until the
    session evicts it).

    ``order_corpus``: a SUPERSET corpus to index (e.g. the unfiltered
    documents table); the index is then restricted to ``df``'s ids by
    semi-join. The prefix-filter property only needs SOME fixed global
    order, so superset document frequencies stay exact — and the
    superset's sorted-shingle table is the session-canonical plan, reused
    via cached-subplan substitution by every other consumer instead of
    re-tokenizing each filtered subset. Pairs are still emitted only
    within ``df``.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    index_base = order_corpus if order_corpus is not None else df
    sorted_docs = tracked_persist(
        frequency_sorted_shingles(index_base, text_col, id_col, n)
    )
    if order_corpus is not None:
        sorted_docs = sorted_docs.join(df.select(id_col), id_col, "left_semi")
    pref_len = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    prefixes = sorted_docs.select(
        F.col(id_col).alias("pid"),
        F.col("sz"),
        F.explode(F.slice("shingles", 1, pref_len)).alias("shingle"),
    )
    l, r = prefixes.alias("l"), prefixes.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.pid") < F.col("r.pid"))
            # length filter: t*|a| <= |b| and t*|b| <= |a|
            & (F.col("r.sz") >= F.lit(threshold) * F.col("l.sz"))
            & (F.col("l.sz") >= F.lit(threshold) * F.col("r.sz")),
        )
        .select(F.col("l.pid").alias("id_a"), F.col("r.pid").alias("id_b"))
        .distinct()
    )
    # Array-carrying verify sides must never broadcast (see
    # dedup.minhash_near_duplicates — measured driver GC-thrash at 20×
    # sf0.1 from a stale cached-size estimate); pin to sort-merge, which
    # spills where a hash build would OOM.
    ranked = sorted_docs.hint("merge")
    a = ranked.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"), F.col("sz").alias("sz_a"))
    b = ranked.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"), F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter).cast("double")
    # Threshold on the EXACT ratio — rounding first would drop/admit
    # boundary pairs and break the no-false-negatives contract; the
    # rounded value is presentation only. explode(filter(array(jac)))
    # evaluates the array_intersect arithmetic ONCE per candidate pair —
    # a separate .filter() + round projection evaluated it twice (r13,
    # see dedup.minhash_near_duplicates).
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.explode(
                F.filter(F.array(jac), lambda j: j >= threshold)
            ).alias("_jac"),
        )
        .select("id_a", "id_b", F.round("_jac", round_digits).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )
