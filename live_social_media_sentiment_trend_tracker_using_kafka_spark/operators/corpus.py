"""Corpus-level text operators for training-data curation: TF-IDF term
scoring and deterministic stratified sampling.

Both are pure DataFrame compositions (no UDFs) designed so a DuckDB twin
computes identical values — the correctness bar every operator here meets.

- ``tfidf_top_terms``: classic tf·idf (smoothed idf ``ln(1 + N/df)``) over
  the word-token stream; top-k terms per document via a per-doc window.
  Scale shape: one explode + two hash aggregations (term frequencies per
  doc, document frequencies per term) + a broadcast of the |vocab|-sized
  idf table; the window partitions by document — never global.
- ``stratified_sample``: exactly ``n_per_stratum`` rows per stratum, chosen
  by md5-hash order of the id — deterministic, reproducible, engine-
  independent (unlike ``DataFrame.sampleBy``, whose RNG stream is
  Spark-specific and approximate). The hash order is an unbiased
  pseudo-random permutation, so the quota sample is uniform per stratum.
  Scale shape: one shuffle on the stratum key for the row_number window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import word_grams_col, word_tokens_col
from ..caching import tracked_persist
from ..plans.hints import plan_sized_count


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Top-k tf·idf terms per document: (id, term, tf, df, tfidf).

    tf = in-document term count; idf = ln(1 + N/df) with N = docs that have
    at least one token (docs with no tokens can't contribute terms). Ties
    broken by term ascending so output is deterministic.
    """
    from .skew import fan_out

    toks = fan_out(df).select(
        F.col(id_col), F.explode(word_tokens_col(F.col(text_col))).alias("term")
    )
    # tf feeds three branches (df table, N, scores) — persist so the corpus
    # is tokenized once; tiny relative to the input (one row per doc-term).
    tf = tracked_persist(
        toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.agg(F.countDistinct(id_col).alias("_n_docs"))  # stays in-plan
    scored = (
        # dfreq is VOCABULARY-sized (unbounded at corpus scale) — no forced
        # broadcast; AQE promotes the join when it actually fits, same
        # policy as the unigram/bigram scorers. Only the 1-row N broadcasts.
        tf.join(dfreq, "term")
        .crossJoin(n_docs)
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.lit(1.0) + F.col("_n_docs").cast("double") / F.col("df")),
                round_digits,
            ),
        )
        .drop("_n_docs")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf")
        .orderBy(id_col, F.desc("tfidf"), "term")
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Per-doc n-gram repetition metrics (Gopher quality filters — Rae et
    al., "Scaling Language Models: ... Gopher", 2021, §A1.1 — public).

    Returns (id, n_grams, n_distinct, dup_frac, top_gram_share): total word
    n-grams with multiplicity, distinct count, the duplicated fraction
    ``1 − distinct/total``, and the share of the single most frequent gram —
    the two signals Gopher thresholds to drop boilerplate/spam. Docs with
    no n-grams are excluded (no repetition evidence).

    Scale shape: one explode + two hash aggregations, both map-side
    combinable; no windows, no joins.
    """
    from .skew import fan_out

    ex = fan_out(df).select(
        F.col(id_col), F.explode(word_grams_col(F.col(text_col), n)).alias("gram")
    )
    per_gram = ex.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_gram.groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("max_cnt"),
        )
        .select(
            id_col,
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_grams"), round_digits
            ).alias("dup_frac"),
            F.round(F.col("max_cnt") / F.col("n_grams"), round_digits).alias(
                "top_gram_share"
            ),
        )
    )


def pack_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "source",
    max_tokens: int = 512,
) -> DataFrame:
    """Sequence packing: assign docs to fixed token-budget training
    sequences (id, shard, n_tokens, seq_id, seq_offset).

    The streaming-concatenation packing every LLM data loader performs
    (public: GPT/T5 "example packing"): docs are laid end-to-end in
    deterministic id order within each shard and cut into ``max_tokens``
    windows — ``seq_id = floor(prefix_tokens / max_tokens)`` where
    ``prefix_tokens`` counts all prior docs' tokens in the shard. A doc
    straddling a boundary belongs to the sequence it starts in (documented
    deviation from fit-entirely greedy packing, which is inherently
    sequential and not SQL-expressible — this definition is exactly
    reproducible by any engine).

    Scale shape (r11 — closes the same few-groups window-skew class as
    quantile_normalize): the r10 version ran ONE window cumsum partitioned
    by the shard key, i.e. one reducer sorting each shard end-to-end — a
    single-source 100 TB shard is a single-task job failure. The running
    token sum is now ``window_funcs.chunked_running_sum`` over
    ``[id_col]``: ordered id chunks, ``spark.sql.shuffle.partitions`` of
    them, sort in parallel, and per-chunk offsets stitch them into the
    exact per-shard running sum (see its docstring for the shape and the
    NULL / tie contract; ids are unique, so no two docs tie). Only the
    slim (id, shard, n_tokens) columns shuffle — the text stays at the
    scan.
    """
    from .window_funcs import chunked_running_sum

    n_tok = F.size(word_tokens_col(F.col(text_col))).cast("long")
    base = df.select(F.col(id_col), F.col(shard_col), n_tok.alias("n_tokens"))
    return chunked_running_sum(base, [shard_col], [id_col], "n_tokens", "_cum").select(
        id_col,
        shard_col,
        "n_tokens",
        F.floor((F.col("_cum") - F.col("n_tokens")) / max_tokens).alias("seq_id"),
        ((F.col("_cum") - F.col("n_tokens")) % max_tokens).alias("seq_offset"),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic quota sample: the ``n_per_stratum`` rows per stratum
    that rank first under md5(id) order.

    md5 of the id string is a fixed pseudo-random permutation shared by
    every SQL engine, so the exact same rows are chosen everywhere — the
    reproducibility a training-data pipeline needs from a downsampling
    step (re-runs, audits, and the oracle all agree row-for-row).
    """
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
        .orderBy(strata_col, id_col)
    )


def unigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Per-doc mean unigram log-probability — the fluency/perplexity filter.

    The corpus-level analogue of a KenLM-style perplexity gate (public
    practice in CCNet/RefinedWeb-type pipelines): estimate add-one-smoothed
    unigram probabilities ``(c+1)/(N+V)`` from the corpus itself, then score
    every doc by the mean ``ln p(token)`` of its token stream (with
    multiplicity). Gibberish/rare-token soup scores far more negative than
    natural prose; thresholding on the score is a quality gate that needs
    no external model — exactly expressible in SQL, so every score value is
    oracle-checked.

    Scale shape: one explode + one hash agg builds the unigram table, a
    2-value scalar aggregate (N, V) broadcasts by value, and the token
    stream joins the unigram table on token — the same shuffle shape as
    tf·idf; AQE promotes the join to broadcast when the vocab fits. The
    token stream feeds both the unigram build and the scoring join, so it
    is persisted to keep corpus tokenization a single pass.
    """
    from .skew import fan_out

    toks = tracked_persist(
        fan_out(df).select(
            F.col(id_col), F.explode(word_tokens_col(F.col(text_col))).alias("tok")
        )
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = uni.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("vocab")
    )
    scored = (
        toks.join(uni, "tok")
        .crossJoin(totals)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(
                    F.log(
                        (F.col("c") + 1).cast("double")
                        / (F.col("n_total") + F.col("vocab")).cast("double")
                    )
                ),
                round_digits,
            ).alias("avg_logprob"),
        )
        .orderBy(id_col)
    )
    return scored


def bigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Per-doc mean n-gram (default bigram) log-probability — the
    order-sensitive fluency gate.

    Same corpus-self add-one model as ``unigram_logprob_scores`` but over
    word n-grams WITH multiplicity: ``ln((c(gram)+1) / (N_grams+V_grams))``
    averaged over the doc's gram stream. Word-salad that passes a unigram
    gate (common words, shuffled order) scores poorly here because its
    *transitions* are rare — the standard reason public cleaning pipelines
    step up from unigram to bigram statistics. Exactly SQL-expressible, so
    every score value is oracle-checked.

    Scale shape: identical to the unigram scorer — explode + hash-agg for
    the gram table, a broadcast 2-value totals row, then the gram stream
    re-joins the counts (AQE promotes to broadcast when the gram vocab
    fits). The exploded stream is persisted so gram-building runs once for
    both the model build and the scoring pass.
    """
    from .skew import fan_out

    grams = tracked_persist(
        fan_out(df).select(
            F.col(id_col), F.explode(word_grams_col(F.col(text_col), n)).alias("gram")
        )
    )
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("vocab")
    )
    return (
        grams.join(counts, "gram")
        .crossJoin(totals)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(
                F.avg(
                    F.log(
                        (F.col("c") + 1).cast("double")
                        / (F.col("n_total") + F.col("vocab")).cast("double")
                    )
                ),
                round_digits,
            ).alias("avg_logprob"),
        )
        .orderBy(id_col)
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_frequency: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style corpus-wide line dedup (boilerplate removal, public
    practice: CCNet / RefinedWeb drop lines repeated across many pages —
    nav menus, cookie banners, signatures).

    A line is kept iff its distinct-document frequency is BELOW
    ``max_doc_frequency``; documents whose every line is boilerplate drop
    out entirely. Returns (id, n_lines_kept, text_clean) with lines
    reassembled in original order — fully SQL-expressible, so the whole
    transform is oracle-checkable.

    Scale shape: posexplode → one hash-agg on the line value (map-side
    partial on count-distinct), then the line stream re-joins the frequency
    table — the tf·idf shuffle pattern; AQE broadcasts the frequency side
    when the distinct-line vocabulary fits, and a 100 TB deployment joins on
    ``xxhash64(line)`` instead of the raw string to shrink shuffle width
    (collision-safe at 64 bits for dedup purposes). Reassembly is one
    per-doc hash-agg with an array_sort on (pos, line) — no window, no
    global sort.
    """
    # F.split takes a REGEX while array_join below takes a literal — escape
    # the separator so metachar seps ("|", ".") split and reassemble the
    # same way instead of splitting between every character.
    import re

    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias("pos", "line"),
    )
    freq = lines.groupBy("line").agg(F.count_distinct(F.col(id_col)).alias("doc_freq"))
    kept = lines.join(freq.filter(F.col("doc_freq") < max_doc_frequency), "line")
    return (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("ordered"))
        .select(
            F.col(id_col),
            F.size("ordered").alias("n_lines_kept"),
            F.array_join(F.transform("ordered", lambda x: x["line"]), sep).alias("text_clean"),
        )
        .orderBy(id_col)
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window document chunking — the complement of
    ``pack_documents``: long docs split into ``max_tokens``-token training
    chunks whose starts advance by ``stride`` (overlap = max_tokens -
    stride preserves cross-boundary context, the standard LM preprocessing
    recipe).

    Chunk c covers tokens [c·stride, c·stride + max_tokens); chunking stops
    at the first chunk that reaches the document end (count =
    max(ceil((n - max_tokens)/stride), 0) + 1, the standard recipe), so the
    tail is a shorter final chunk rather than dropped text and never a
    strict subset of the previous chunk's coverage (64 tokens at stride 48
    yield ONE chunk, not a redundant [48,64) echo). Entirely per-row
    Catalyst (token let-binding via a single-element transform, chunk
    fan-out via sequence+explode) — no shuffle, no Python; output size is a
    fixed multiple of the corpus, never quadratic.

    Output: (id, chunk_id, n_chunk_tokens, chunk_text), token-less docs
    excluded (they have nothing to chunk).
    """
    if stride < 1 or max_tokens < 1:
        raise ValueError("max_tokens and stride must be >= 1")
    if stride > max_tokens:
        # chunks would skip tokens [c*stride + max_tokens, (c+1)*stride) —
        # silently dropped interior text, contradicting the contract above
        raise ValueError("stride must be <= max_tokens (gaps would drop text)")
    # explode(filter(array(...))) instead of .filter(size > 0): the pushed
    # predicate would re-run the tokenizer below the projection — once per
    # row on the unsplit scan task — and the projection would compute it
    # again (see dedup.shingle_table, r13). Bit-identical row set.
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.array(word_tokens_col(F.col(text_col))),
                lambda a: F.size(a) > 0,
            )
        ).alias("toks"),
    )
    n_chunks = (
        F.greatest(
            F.ceil((F.size("toks") - max_tokens) / F.lit(stride)), F.lit(0)
        ).cast("int")
        + 1
    )
    chunked = toks.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        F.col("toks"),
    ).select(
        id_col,
        "chunk_id",
        F.slice("toks", F.col("chunk_id") * stride + 1, max_tokens).alias("chunk"),
    )
    return chunked.select(
        id_col,
        "chunk_id",
        F.size("chunk").cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", "chunk").alias("chunk_text"),
    ).orderBy(id_col, "chunk_id")


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    k: int = 100,
    round_digits: int = 6,
) -> DataFrame:
    """Top-``k`` vocabulary with cumulative corpus coverage — the
    vocabulary-sizing curve (what fraction of all token OCCURRENCES the
    most frequent k types cover).

    One explode + hash agg over the corpus; the window runs on the k-row
    top slice only (TakeOrderedAndProject keeps the big sort off the full
    vocabulary). Deterministic tie-break: count desc, token asc.
    """
    total = df.select(
        F.sum(F.size(word_tokens_col(F.col(text_col)))).alias("_total")
    )
    counts = (
        df.select(F.explode(word_tokens_col(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(k)
    )
    w = Window.orderBy(F.desc("n"), "token").rowsBetween(Window.unboundedPreceding, 0)
    return (
        counts.join(total)
        .select(
            F.row_number().over(Window.orderBy(F.desc("n"), "token")).alias("rank"),
            "token",
            "n",
            F.round(F.sum("n").over(w) / F.col("_total"), round_digits).alias(
                "cum_coverage"
            ),
        )
        .orderBy("rank")
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct word n-grams
    whose FIRST corpus appearance (min doc id) is this document — the
    "does this doc add anything" curation signal (a near-copy of earlier
    material scores ~0; the first copy keeps its grams).

    Rides the canonical shared ``shingle_table`` (one tokenize pass per
    corpus per session), then two hash aggregations: gram → min(doc) over
    the exploded pairs (the only corpus-sized shuffle, map-side
    combinable), and first_doc → count, which is gram-table sized. The
    doc-level join joins two |docs|-row tables. No collect, no windows.
    """
    from .dedup import shingle_table

    sh = shingle_table(df, text_col, id_col, n)
    pairs = sh.select(F.col(id_col), F.explode("shingles").alias("gram"))
    first = pairs.groupBy("gram").agg(F.min(id_col).alias("first_doc"))
    novel = first.groupBy(F.col("first_doc").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    return (
        sh.select(F.col(id_col), F.size("shingles").cast("long").alias("n_grams"))
        .join(novel, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0)) / F.col("n_grams"), round_digits
            ).alias("novelty_frac"),
        )
        .orderBy(id_col)
    )


def dsir_importance_scores(
    df: DataFrame,
    is_target,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """DSIR-style contrastive importance score per document: mean
    ``ln p_target(tok) - ln p_corpus(tok)`` over the doc's token stream,
    with both add-one-smoothed unigram models estimated from the corpus
    itself (``is_target`` marks the rows defining the target slice).

    The data-selection ranking of Xie et al. 2023 ("Data Selection for
    Language Models via Importance Resampling"), reduced to its
    SQL-expressible core: DSIR's hashed-n-gram bag features with unigram
    bags, so every score is oracle-checkable. Positive scores read "more
    like the target slice than the average corpus doc" — rank/threshold on
    it to resample toward the target distribution.

    Scale shape, identical to :func:`unigram_logprob_scores` and tf·idf:
    one token explode feeds ONE hash aggregation building BOTH models
    (target counts ride along as a conditional sum — no second corpus
    pass), a 3-value totals row broadcasts by value, and the scoring join
    is token-keyed (AQE promotes it to broadcast when the vocab fits).
    The token stream is persisted (tracked, trim-bounded) because the
    model build and the scoring join both consume it.
    """
    from .skew import fan_out

    toks = fan_out(df.withColumn("_tgt", is_target)).select(
        F.col(id_col),
        F.col("_tgt").cast("long").alias("_tgt"),
        F.explode(word_tokens_col(F.col(text_col))).alias("tok"),
    )
    toks = tracked_persist(toks)
    uni = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("c_all"), F.sum("_tgt").alias("c_tgt")
    )
    totals = uni.agg(
        F.sum("c_all").cast("double").alias("n_all"),
        F.sum("c_tgt").cast("double").alias("n_tgt"),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    )
    return (
        toks.join(uni, "tok")
        .crossJoin(totals)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(
                    F.log(
                        (F.col("c_tgt") + 1).cast("double")
                        / (F.col("n_tgt") + F.col("vocab"))
                    )
                    - F.log(
                        (F.col("c_all") + 1).cast("double")
                        / (F.col("n_all") + F.col("vocab"))
                    )
                ),
                round_digits,
            ).alias("dsir_score"),
        )
        .orderBy(id_col)
    )


def token_pmi_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_k: int = 100,
    min_pair_docs: int = 5,
    k: int = 50,
    round_digits: int = 6,
) -> DataFrame:
    """Pointwise mutual information of token pairs co-occurring in the same
    document, restricted to the top-``vocab_k`` tokens by document
    frequency — the collocation statistic phrase-mining / tokenizer-merge
    pipelines compute over a corpus (Church & Hanks 1990, public).

    PMI(a, b) = ln( P(a, b) / (P(a) P(b)) ) with probabilities estimated as
    document frequencies over N = docs with at least one token. Returns the
    top-``k`` pairs (tok_a, tok_b, pair_docs, df_a, df_b, pmi) with
    ``pair_docs >= min_pair_docs`` (rare pairs make PMI explode), ordered by
    pmi desc with a (tok_a, tok_b) tiebreak.

    Scale shape: the all-pairs trap is avoided by the broadcast vocab cut —
    the within-doc self-join runs on the vocab-filtered presence table, so
    the pair expansion is bounded by |docs| * C(vocab_k, 2) rows flowing
    into ONE map-side-combinable hash agg whose output is <= C(vocab_k, 2)
    rows; the vocab itself is a TakeOrderedAndProject over the df table
    (never a driver collect), and N stays in-plan as a 1-row broadcast.
    """
    from .dedup import word_tokens_col
    from .skew import fan_out

    toks = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(word_tokens_col(F.col(text_col)))).alias("tok"),
    )
    # presence table feeds three consumers (df table, N, the filtered join
    # input) — tokenize the corpus once
    toks = tracked_persist(toks)
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    vocab = dfreq.orderBy(F.desc("df"), F.asc("tok")).limit(vocab_k)
    n_docs = toks.agg(F.countDistinct("doc_id").alias("_n_docs"))
    ft = tracked_persist(toks.join(vocab, "tok"))
    a = ft.select("doc_id", F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    b = ft.select("doc_id", F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).alias("pair_docs"))
    )
    return (
        pairs.filter(F.col("pair_docs") >= min_pair_docs)
        .crossJoin(n_docs)
        .select(
            "tok_a",
            "tok_b",
            F.col("pair_docs").cast("long").alias("pair_docs"),
            F.col("df_a").cast("long").alias("df_a"),
            F.col("df_b").cast("long").alias("df_b"),
            F.round(
                F.log(
                    F.col("pair_docs")
                    * F.col("_n_docs").cast("double")
                    / (F.col("df_a") * F.col("df_b"))
                ),
                round_digits,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(k)
    )


def zipf_alpha(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    top_n: int = 1000,
    round_digits: int = 6,
) -> DataFrame:
    """Zipf exponent of the token-frequency distribution per corpus slice:
    OLS fit of ln(freq) on ln(rank) over the top-``top_n`` tokens —
    ``zipf_alpha`` is the negated slope (natural text ~ 1.0; templated or
    boilerplate-heavy slices drift away, which makes this a cheap
    source-level quality screen alongside repetition_stats/doc_quality).

    Returns (group_col, n_terms, zipf_alpha, zipf_intercept) ordered by
    group; ``zipf_intercept`` is the fitted ln-frequency at rank 1.

    Cross-engine determinism: ranks and counts are exact integers, so the
    per-row ln() inputs are identical on any engine; the four OLS sums
    accumulate DECIMAL casts of the per-row doubles (the returned_items
    house pattern) so the sums are order-independent, then the closed form
    runs in doubles on identical inputs.

    Scale shape: one map-side-combinable (group, token) count agg reduces
    the corpus to vocab-sized rows; the rank window partitions by group
    over each group's VOCAB (never the corpus — bounded by distinct
    tokens, and only the top-``top_n`` rows survive into the per-group
    sums agg, whose output is |groups| rows).
    """
    from .skew import fan_out

    toks = fan_out(df).select(
        F.col(group_col).alias("grp"),
        F.explode(word_tokens_col(F.col(text_col))).alias("tok"),
    )
    counts = toks.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("grp").orderBy(F.desc("n"), F.asc("tok"))
    ranked = (
        counts.select("grp", "n", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= top_n)
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("n").cast("double"))
    dec = "decimal(24,12)"
    sums = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n_fit"),
        F.sum(x.cast(dec)).cast("double").alias("sx"),
        F.sum(y.cast(dec)).cast("double").alias("sy"),
        F.sum((x * y).cast(dec)).cast("double").alias("sxy"),
        F.sum((x * x).cast(dec)).cast("double").alias("sxx"),
    )
    slope = (F.col("n_fit") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n_fit") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        sums.select(
            F.col("grp").alias(group_col),
            F.col("n_fit").cast("long").alias("n_terms"),
            F.round(-slope, round_digits).alias("zipf_alpha"),
            F.round(
                (F.col("sy") - slope * F.col("sx")) / F.col("n_fit"), round_digits
            ).alias("zipf_intercept"),
        )
        .orderBy(group_col)
    )


def lang_confusion(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Declared-vs-detected language confusion matrix: for every declared
    language, how the heuristic classifier (functions.text.lang_id_col —
    the operator behind lang_id_counts) distributes its predictions. The
    metadata-hygiene audit a pipeline runs before trusting a crawl's
    self-declared `lang` field for filtering or mixture weighting.

    Returns (declared_lang, detected_lang, n_docs, frac_of_declared)
    ordered by declared then detected; fractions sum to 1 per declared
    language.

    Scale shape: one map-side-combinable hash agg reduces the corpus to
    at most |langs|² cells; the per-declared fraction is a window over
    that TINY matrix (never over corpus rows), so the only corpus-sized
    work is the classifier's regexp scan riding the input scan.
    """
    from ..functions.text import lang_id_col
    from .skew import fan_out

    cells = (
        fan_out(df)
        .select(
            F.col(lang_col).alias("declared_lang"),
            lang_id_col(F.col(text_col)).alias("detected_lang"),
        )
        .groupBy("declared_lang", "detected_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    per_declared = Window.partitionBy("declared_lang")
    return (
        cells.select(
            "declared_lang",
            "detected_lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(
                F.col("n_docs") / F.sum("n_docs").over(per_declared).cast("double"),
                6,
            ).alias("frac_of_declared"),
        )
        .orderBy("declared_lang", "detected_lang")
    )


def lexical_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    round_digits: int = 6,
) -> DataFrame:
    """Per-slice lexical-diversity screen: type-token ratio, hapax share,
    and mean token length over the normalized word-token stream — the
    corpus-statistics panel next to zipf_alpha (templated/boilerplate
    slices show low TTR and low hapax share; OCR-garbage slices show
    inflated hapax share and drifting token length).

    Returns (group_col, n_tokens, n_types, n_hapax, ttr, hapax_share,
    avg_token_len) ordered by group. ttr = n_types / n_tokens;
    hapax_share = n_hapax / n_types; avg_token_len = total characters
    across token OCCURRENCES / n_tokens.

    Cross-engine determinism: every aggregate input is an exact integer
    (counts and length(tok) * n character sums), so the three ratios
    divide identical numerators/denominators on any engine — no decimal
    accumulation needed, unlike zipf_alpha's per-row doubles.

    Scale shape: one map-side-combinable (group, token) count agg reduces
    the corpus to vocab-sized rows (the zipf_alpha shuffle shape); the
    rollup to |groups| rows is a second tiny hash agg. Nothing windows
    over corpus rows and nothing collects.
    """
    from .skew import fan_out

    toks = fan_out(df).select(
        F.col(group_col).alias("grp"),
        F.explode(word_tokens_col(F.col(text_col))).alias("tok"),
    )
    counts = toks.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("n"))
    sums = counts.groupBy("grp").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.sum(F.length("tok").cast("long") * F.col("n")).alias("char_sum"),
    )
    return sums.select(
        F.col("grp").alias(group_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.col("n_hapax").cast("long").alias("n_hapax"),
        F.round(
            F.col("n_types") / F.col("n_tokens").cast("double"), round_digits
        ).alias("ttr"),
        F.round(
            F.col("n_hapax") / F.col("n_types").cast("double"), round_digits
        ).alias("hapax_share"),
        F.round(
            F.col("char_sum") / F.col("n_tokens").cast("double"), round_digits
        ).alias("avg_token_len"),
    ).orderBy(group_col)


def quality_by_dup_status(
    df: DataFrame,
    components: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Are near-duplicated documents lower-quality than unique ones? Joins
    the quality heuristics (quality_score_cols) against a near-dup
    connected-components table (``cluster.connected_components`` over
    Jaccard>=0.8 pairs — the dedup_clusters chain) and aggregates per
    membership status: ``near_dup_member`` (the doc shares a cluster with
    at least one other doc) vs ``unique``. Public corpus studies
    consistently find dup clusters skew toward boilerplate — this is the
    query that checks it on YOUR corpus before choosing dedup
    aggressiveness.

    Returns (dup_status, n_docs, avg_quality, avg_tokens) ordered by
    status.

    Scale shape: quality columns compute inside the corpus scan; the
    membership check is ONE left join on the id (the components side
    holds only clustered docs — far smaller than the corpus — and the
    join carries just (id, quality, n_tokens), never text); the final
    agg reduces to 2 rows map-side. The components input is whatever the
    cluster chain already produced — membership is derived, not
    recomputed.
    """
    from ..functions.text import quality_score_cols
    from .skew import fan_out

    q = quality_score_cols(F.col(text_col))
    scored = fan_out(df).select(
        F.col(id_col).alias("_id"),
        q["quality_score"].alias("quality_score"),
        q["n_tokens"].alias("n_tokens"),
    )
    members = components.select(F.col("node").alias("_id")).distinct()
    status = F.when(
        F.col("_member").isNotNull(), F.lit("near_dup_member")
    ).otherwise(F.lit("unique"))
    return (
        scored.join(
            members.withColumn("_member", F.lit(1)), "_id", "left"
        )
        .select(status.alias("dup_status"), "quality_score", "n_tokens")
        .groupBy("dup_status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality_score"), 6).alias("avg_quality"),
            F.round(F.avg(F.col("n_tokens").cast("double")), 6).alias("avg_tokens"),
        )
        .orderBy("dup_status")
    )


def corpus_drift(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 25,
    smoothing: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """Token-distribution drift between two deterministic corpus halves
    (md5(doc_id) first hex < '8' → half "a"): the top-k tokens by
    normalized-frequency difference, each with its smoothed per-half
    probability and its contribution to the Jensen-Shannon divergence —
    the "did the crawl/mix shift under us" monitoring panel a training
    pipeline runs between snapshots.

    Returns (token, cnt_a, cnt_b, p_a, p_b, js_contrib) — k rows ordered
    by drift. Probabilities are add-λ smoothed over the union vocab.

    Cross-engine determinism: the top-k CUTOFF ranks on the exact
    integer cross-multiplication |cnt_a·tot_b − cnt_b·tot_a| (the
    unsmoothed prob-difference numerator) with a token tiebreak — no
    float enters the ordering. The reported floats derive from integers
    through identically-written arithmetic; ln() ulp drift is absorbed
    by rounding. (The cross-product is exact in int64 up to ~1e9-token
    halves; quantize to DECIMAL(38,0) beyond that.)

    Scale shape: one tokenize pass, ONE map-side-combinable (token) hash
    agg; the resulting vocab-sized table is PERSISTED because both the
    totals agg and the final projection read it — without the pin each
    branch re-runs the corpus-sized tokenize+agg (measured 100x at a 20x
    probe; with it, ~6x). Totals come back as a broadcast cross-join;
    top-k is TakeOrderedAndProject.
    """
    from ..caching import tracked_persist
    from .dedup import word_tokens_col

    half = F.when(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 1) < "8", "a"
    ).otherwise("b")
    toks = df.select(
        half.alias("half"),
        F.explode(word_tokens_col(F.col(text_col))).alias("token"),
    )
    per = tracked_persist(
        toks.groupBy("token").agg(
            F.sum(F.when(F.col("half") == "a", 1).otherwise(0)).cast("long").alias("cnt_a"),
            F.sum(F.when(F.col("half") == "b", 1).otherwise(0)).cast("long").alias("cnt_b"),
        )
    )
    tot = per.agg(
        F.sum("cnt_a").cast("long").alias("tot_a"),
        F.sum("cnt_b").cast("long").alias("tot_b"),
        F.count(F.lit(1)).alias("vocab"),
    )
    lam = F.lit(smoothing)
    pa = (F.col("cnt_a") + lam) / (F.col("tot_a") + lam * F.col("vocab"))
    pb = (F.col("cnt_b") + lam) / (F.col("tot_b") + lam * F.col("vocab"))
    m = (pa + pb) / F.lit(2.0)
    js = F.lit(0.5) * (pa * F.log(pa / m) + pb * F.log(pb / m))
    dn = F.abs(
        F.col("cnt_a") * F.col("tot_b") - F.col("cnt_b") * F.col("tot_a")
    )
    return (
        per.crossJoin(tot)
        .select(
            "token",
            "cnt_a",
            "cnt_b",
            F.round(pa, round_digits).alias("p_a"),
            F.round(pb, round_digits).alias("p_b"),
            F.round(js, 8).alias("js_contrib"),
            dn.alias("_dn"),
        )
        .orderBy(F.desc("_dn"), "token")
        .limit(k)
        .drop("_dn")
    )


def source_shingle_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Pairwise n-gram Jaccard overlap between SOURCES — the
    cross-source contamination matrix ("is source X republishing source
    Y?") a curation pipeline checks before assigning dedup priorities or
    mixture weights. Complements the doc-level near-dup family: this is
    corpus-level set overlap, not pair discovery.

    Returns (source_a, source_b, shingles_a, shingles_b, inter_cnt,
    jaccard) for every source_a < source_b (zero-overlap pairs included),
    ordered by the pair.

    Scale shape: rides the canonical shared shingle_table (one tokenize
    pass per corpus per session); the (source, gram) projection dedups in
    ONE hash shuffle and is PERSISTED — both the set-size agg and the
    intersection agg read it, and without the pin each branch would
    re-run the corpus-sized explode+dedup. Intersections aggregate
    gram → source-set (bounded by |sources|, map-side combinable) and
    explode to C(|sources|,2) pairs at most per gram. No all-pairs row
    join ever forms — the widest intermediate is the deduped
    (source, gram) table itself.
    """
    from ..caching import tracked_persist
    from .dedup import shingle_table

    sh = shingle_table(df, text_col, id_col, n)
    pairs = tracked_persist(
        sh.join(df.select(id_col, source_col), id_col)
        .select(F.col(source_col).alias("src"), F.explode("shingles").alias("gram"))
        .distinct()
    )
    sizes = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        pairs.groupBy("gram")
        .agg(F.collect_set("src").alias("srcs"))
        .filter(F.size("srcs") > 1)
        .select(F.explode("srcs").alias("sa"), F.col("srcs"))
        .select("sa", F.explode("srcs").alias("sb"))
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("inter_cnt"))
    )
    a = sizes.select(F.col("src").alias("source_a"), F.col("sz").alias("shingles_a"))
    b = sizes.select(F.col("src").alias("source_b"), F.col("sz").alias("shingles_b"))
    ic = F.coalesce(F.col("inter_cnt"), F.lit(0)).cast("long")
    return (
        # non-equi pair join: without the hint Spark plans a CartesianProduct
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .join(
            inter,
            (F.col("source_a") == F.col("sa")) & (F.col("source_b") == F.col("sb")),
            "left",
        )
        .select(
            "source_a",
            "source_b",
            "shingles_a",
            "shingles_b",
            ic.alias("inter_cnt"),
            F.round(
                ic
                / (F.col("shingles_a") + F.col("shingles_b") - ic).cast("double"),
                round_digits,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def span_corruption_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask_hex_lt: str = "2",
    round_digits: int = 6,
) -> DataFrame:
    """T5-style span-corruption planning, per document: deterministically
    mask ~``mask_hex_lt``/16 of token positions (md5(doc_id:pos) first hex
    below the threshold — the engine's planted-subset pattern, so the
    "noise" is reproducible on any engine with md5) and report the token
    count, masked count, number of contiguous masked SPANS (each span
    becomes one sentinel in the corrupted input), and the realized mask
    rate — the stats a masked-LM data pipeline needs to size sentinel
    vocabulary and target lengths BEFORE materializing corrupted text.

    Returns (doc_id, n_tokens, n_masked, n_spans, mask_rate) for docs
    with at least one token, ordered by doc_id.

    Scale shape: entirely per-row array arithmetic — tokenize, build the
    mask-flag array with one ``transform``, count spans with one
    ``zip_with`` against the shifted flags. NO shuffle, NO window, NO
    Python: the whole operator is a narrow map that rides whatever
    partitioning the corpus already has.
    """
    toks = word_tokens_col(F.col(text_col))

    def flags(t: Column) -> Column:
        return F.transform(
            t,
            lambda x, i: F.substring(
                F.md5(F.concat_ws(":", F.col(id_col).cast("string"), i.cast("string"))),
                1,
                1,
            )
            < mask_hex_lt,
        )

    # explode(filter(array(...))) both LET-BINDS the token array (the
    # word_grams_col trick — tokenizer runs once per row, not once per
    # downstream reference) AND drops empty docs without a pushable
    # predicate: a .filter(size > 0) on the alias would re-run the
    # tokenizer below the projection (see dedup.shingle_table, r13)
    out = (
        df.select(
            F.col(id_col),
            F.explode(
                F.filter(F.array(toks), lambda a: F.size(a) > 0)
            ).alias("t"),
        )
        .select(id_col, flags(F.col("t")).alias("fl"), F.size("t").alias("n_tokens"))
        .select(
            id_col,
            "n_tokens",
            F.size(F.filter("fl", lambda b: b)).alias("n_masked"),
            # span starts: flag[i] AND NOT flag[i-1]; position 0 starts a
            # span iff masked
            (
                F.col("fl")[0].cast("int")
                + F.aggregate(
                    F.zip_with(
                        F.slice(F.col("fl"), 2, F.greatest(F.size("fl") - 1, F.lit(1))),
                        F.slice(F.col("fl"), 1, F.greatest(F.size("fl") - 1, F.lit(1))),
                        # zip_with pads the shorter side with NULL when a
                        # 1-token doc makes the slice lengths unequal
                        # (greatest(size-1,1) vs the real size-1=0); the
                        # padded (null & ~flag) must count as 0, not
                        # poison the sum to NULL
                        lambda cur, prev: F.coalesce((cur & ~prev).cast("int"), F.lit(0)),
                    ),
                    F.lit(0),
                    lambda acc, x: acc + x,
                )
            ).alias("n_spans"),
        )
        .select(
            id_col,
            "n_tokens",
            F.col("n_masked").cast("long").alias("n_masked"),
            F.col("n_spans").cast("long").alias("n_spans"),
            F.round(F.col("n_masked") / F.col("n_tokens").cast("double"), round_digits).alias(
                "mask_rate"
            ),
        )
        .orderBy(id_col)
    )
    return out


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    k: int = 25,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """BM25 retrieval: score every document against a bag of query terms
    and return the top-k — the classic search/RAG-retrieval primitive
    (tfidf_top_terms describes documents; this RANKS them for a query,
    with the saturation (k1) and length-normalization (b) terms tf-idf
    lacks).

    Returns (doc_id, dl, matched_terms, score), top-k by (rounded score
    desc, doc_id). Docs matching no term never surface.

    Scale shape: per-row tf/dl extraction is a narrow map (the token
    array is let-bound through a single-element transform so the
    tokenizer runs once per row, not once per term); corpus statistics
    (N, Σdl, per-term df) are ONE 1-row aggregate that comes back as a
    broadcast cross-join; top-k is TakeOrderedAndProject. No shuffle
    wider than the 1-row stats agg — two scan passes total.

    Cross-engine determinism: every stat is an exact integer; idf and
    the saturation quotient are identically-written double arithmetic on
    them (dl/avgdl computed as (dl·N)/Σdl so no intermediate average is
    materialized); the cutoff orders on the ROUNDED score + doc_id.
    """

    def per_row(t: Column) -> Column:
        return F.struct(
            F.size(t).alias("dl"),
            *[
                F.size(F.filter(t, lambda x: x == F.lit(term))).alias(f"tf{i}")
                for i, term in enumerate(query_terms)
            ],
        )

    # Drop empty docs via explode(filter(transform(array(tokens), per_row)))
    # instead of `.filter(s.dl > 0)` on the projected struct: the pushed-down
    # predicate re-evaluated the WHOLE tokenize+per-term-tf kernel in a
    # Filter below the projection — and `rows` feeds two consumers (stats
    # agg + scoring leg), so the kernel ran 4x per call instead of 2x
    # (r13 pushdown sweep; same class/idiom as dedup.shingle_table). The
    # higher-order filter evaluates the struct once, above the scan filter
    # boundary; explode of the emptied wrapper emits no row — bit-identical
    # to filter(dl > 0) including NULL-text rows (NULL struct → predicate
    # NULL → element dropped either way).
    rows = (
        df.select(
            F.col(id_col),
            F.explode(
                F.filter(
                    F.transform(F.array(word_tokens_col(F.col(text_col))), per_row),
                    lambda s: s["dl"] > 0,
                )
            ).alias("s"),
        )
        .select(id_col, "s.*")
    )
    stats = rows.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).cast("long").alias(f"df{i}")
            for i in range(len(query_terms))
        ],
    )
    norm = F.lit(1.0) - F.lit(b) + F.lit(b) * (
        F.col("dl") * F.col("n_docs")
    ) / F.col("total_dl").cast("double")
    score = None
    matched = None
    for i in range(len(query_terms)):
        tf = F.col(f"tf{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
        )
        part = (idf * (tf * F.lit(k1 + 1.0))) / (tf + F.lit(k1) * norm)
        hit = (tf > 0).cast("int")
        score = part if score is None else score + part
        matched = hit if matched is None else matched + hit
    return (
        rows.crossJoin(stats)
        .select(
            id_col,
            F.col("dl").cast("long").alias("dl"),
            matched.cast("int").alias("matched_terms"),
            F.round(score, round_digits).alias("score"),
        )
        .filter(F.col("matched_terms") > 0)
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document duplicated-SPAN fraction: which share of a document's
    distinct word n-gram spans also appears verbatim in at least one OTHER
    document. The span-level view of dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", public): document-level
    near-dup misses boilerplate/quote contamination where only passages
    repeat; this surfaces it so a cleaning tier can drop or re-weight
    span-heavy docs. Long ``n`` (default 8 words) keeps common short
    phrases out of the signal.

    Scale shape: rides the canonical shared ``shingle_table`` (one
    tokenize pass per (corpus, n) per session), then exactly TWO linear
    shuffles — explode → groupBy(gram) marking grams seen in ≥2 distinct
    docs (map-side combinable count over pre-deduped per-doc grams), and
    groupBy(doc) re-assembling per-doc totals. No pair join ever forms:
    the widest intermediate is the exploded (doc, gram) table, linear in
    corpus token count. A gram hot enough to skew its reducer (classic
    boilerplate) aggregates to ONE row per gram before the doc roll-up.

    Returns (doc_id, n_spans, dup_spans, dup_frac) for every doc with at
    least one span, ordered by doc_id.
    """
    from .dedup import shingle_table

    spans = shingle_table(df, text_col, id_col, n).select(
        F.col(id_col), F.explode("shingles").alias("gram")
    )
    shared = (
        spans.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_docs"))
        .filter(F.col("_docs") > 1)
        .select("gram", F.lit(True).alias("_shared"))
    )
    return (
        spans.join(shared, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("_shared").isNotNull().cast("long")).alias("dup_spans"),
        )
        .select(
            id_col,
            "n_spans",
            "dup_spans",
            F.round(F.col("dup_spans") / F.col("n_spans").cast("double"), round_digits).alias(
                "dup_frac"
            ),
        )
        .orderBy(id_col)
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """ExactSubstr-style duplicated-span REMOVAL (Lee et al. 2022, public):
    every word n-gram that appears in ≥2 distinct documents is kept only in
    its OWNER document (min doc id corpus-wide); all other documents have
    the tokens covered by such grams cut out. The curation counterpart of
    ``duplicate_span_stats`` — that operator measures span contamination,
    this one removes it while keeping exactly one copy of every passage in
    the corpus (document-level dedup can't: it keeps or drops whole docs).

    Semantics: token i of doc d survives iff no duplicated gram owned by
    another doc covers position i. Overlapping removable grams union their
    coverage. The owner keeps all its occurrences (within-doc repeats are
    repetition_stats' signal, not cross-doc contamination). Docs shorter
    than ``n`` tokens have no grams and pass through whole.

    Scale shape: positional grams via posexplode (linear in token count,
    same width as the shingle explode), one map-side-combinable
    groupBy(gram) for owners, a shuffle join back on gram, the coverage
    explode is ≤ n× the removable-gram rows, and token reassembly is one
    anti join + one groupBy(doc) whose per-group state is the doc's own
    tokens. No pair join, nothing quadratic; boilerplate-hot grams
    aggregate to one owner row before any join.

    Returns (doc_id, n_tokens, n_removed, text_clean) for every doc with
    ≥1 token, ordered by id; a fully-duplicated doc yields text_clean ''.
    """
    from .dedup import word_tokens_col

    # single-evaluation empty-drop (see dedup.shingle_table, r13): the
    # size predicate would re-run the tokenizer below the projection on
    # the unsplit scan task during the cache build
    toks = tracked_persist(
        df.select(
            F.col(id_col),
            F.explode(
                F.filter(
                    F.array(word_tokens_col(F.col(text_col))),
                    lambda a: F.size(a) > 0,
                )
            ).alias("_t"),
        )
    )
    # 0-based gram start positions; sequence(0, -1) would DESCEND, so gate
    # short docs to an empty start array instead
    starts = F.when(
        F.size("_t") >= n, F.sequence(F.lit(0), F.size("_t") - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(starts, lambda i: F.array_join(F.slice("_t", i + 1, n), " "))
        ).alias("pos", "gram"),
    )
    owners = (
        grams.groupBy("gram")
        .agg(F.min(id_col).alias("_owner"), F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") > 1)
        .select("gram", "_owner")
    )
    covered = (
        grams.join(owners, "gram")
        .filter(F.col(id_col) != F.col("_owner"))
        .select(F.col(id_col), F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("idx"))
        .distinct()
    )
    tokpos = toks.select(F.col(id_col), F.posexplode("_t").alias("idx", "tok"))
    kept = (
        tokpos.join(covered, [id_col, "idx"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("_clean"),
        )
    )
    return (
        toks.select(F.col(id_col), F.size("_t").alias("n_tokens"))
        .join(kept, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("_n_kept", F.lit(0))).cast("long").alias("n_removed"),
            F.coalesce("_clean", F.lit("")).alias("text_clean"),
        )
        .orderBy(id_col)
    )


def paragraph_language_profile(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 20,
) -> DataFrame:
    """Per-PARAGRAPH language segmentation (CCNet runs language-ID per
    paragraph, not per document — mixed-language web pages are the norm,
    and a doc-level argmax silently mislabels the minority-language
    paragraphs it buries).

    Split on blank-line boundaries, drop sub-``min_chars`` fragments
    (headers/bullets carry no LID signal), language-ID each paragraph with
    the same marker-word heuristic as ``functions.text.lang_id_col``, and
    report per-doc composition: paragraph count, distinct-language count,
    the dominant language (ties break lexicographically), its share, and a
    ``mixed_language`` flag — the CCNet-style routing key (route docs to
    per-language cleaning, quarantine heavy mixtures).

    Scale shape: explode to paragraphs → two hash aggregations, (doc,
    lang) then doc — both map-side combinable, keys are doc-id-scale (no
    skew), and the dominant-language pick is a ``min_by`` inside the
    second agg, not a window (no extra shuffle, no per-doc sort). Docs
    with no qualifying paragraph drop out by construction.
    """
    from ..functions.text import lang_id_col

    paras = (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), r"\n{2,}")).alias("para"),
        )
        .filter(F.length(F.trim(F.col("para"))) >= min_chars)
        .select(id_col, lang_id_col(F.col("para")).alias("para_lang"))
    )
    counts = paras.groupBy(id_col, "para_lang").agg(
        F.count(F.lit(1)).alias("n_paras_lang")
    )
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("n_paras_lang").cast("long").alias("n_paragraphs"),
            F.count(F.lit(1)).cast("long").alias("n_languages"),
            # min of (-count, lang) == count desc, lang asc — deterministic
            F.min_by(
                "para_lang", F.struct(-F.col("n_paras_lang"), F.col("para_lang"))
            ).alias("dominant_lang"),
            F.max("n_paras_lang").cast("long").alias("_n_dom"),
        )
        .select(
            F.col(id_col),
            "n_paragraphs",
            "n_languages",
            "dominant_lang",
            F.round(F.col("_n_dom") / F.col("n_paragraphs"), 6).alias("dominant_share"),
            (F.col("n_languages") >= 2).alias("mixed_language"),
        )
        .orderBy(id_col)
    )


# Inverted-index salt width (r10 VERDICT item 7: the fixed n_salts=16 was
# the last hand-tuned skew constant). Auto mode derives one salt shard per
# SALT_BYTES of Catalyst's input size estimate (plan_sized_count), clamped
# to [1, 1024], 16 without an estimate: the hottest term's aggregation
# state is bounded by N_docs / n_salts, and N_docs scales with input bytes,
# so bytes-per-salt keeps the per-task bound flat as the corpus grows — no
# job, pure plan stats.
SALT_BYTES = 64 * 1024 * 1024


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_postings: int = 100,
    min_df: int = 2,
    n_salts: int | None = None,
) -> DataFrame:
    """Build an inverted index over the corpus: per term, document
    frequency, collection frequency, and a doc_id-ordered posting list
    (parallel ``postings_docs`` / ``postings_tfs`` arrays) capped at
    ``max_postings`` — the index-construction side of bm25_search, and
    the classic skewed-key stress test (stopword terms touch most of the
    corpus).

    Skew containment is TWO-LEVEL on purpose: per-(term, salt) partial
    collect (salt = doc_id % n_salts) caps any single task's aggregation
    state at |hottest term| / n_salts, then the per-term merge flattens
    at most n_salts × max_postings pre-capped rows. AQE does not cover
    this: a ``collect_list`` partial keeps every element, so unlike a count
    or sum partial it does not shrink a hot key, and a single-level
    ``collect_list`` per term would hold the hottest term's ENTIRE
    posting list in one task. ``n_salts=None`` (default)
    scales the width with the corpus automatically: one salt per
    ``SALT_BYTES`` (64 MiB) of Catalyst's zero-job input size estimate,
    so the hottest term's per-task bound stays flat as the corpus grows
    instead of relying on a hand-tuned constant. Any explicit integer
    pins the width (the output is salt-width invariant — pinned by
    test).

    Shuffles: one (term, doc_id) hash agg (map-side combinable tf), one
    (term, salt) agg, one |terms|-row merge agg. df/cf are exact longs;
    postings sort by doc_id, so the cap keeps the SMALLEST doc_ids —
    deterministic on any engine (doc_id is unique per term after the tf
    agg).
    """
    if n_salts is None:
        n_salts = plan_sized_count(df, SALT_BYTES, 1, 1024, 16)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_tokens_col(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    local = (
        tf.withColumn("salt", F.col("doc_id") % n_salts)
        .groupBy("term", "salt")
        .agg(
            F.count(F.lit(1)).alias("df_part"),
            F.sum("tf").alias("cf_part"),
            F.slice(
                F.sort_array(F.collect_list(F.struct("doc_id", "tf"))),
                1,
                max_postings,
            ).alias("p"),
        )
    )
    merged = local.groupBy("term").agg(
        F.sum("df_part").cast("long").alias("df"),
        F.sum("cf_part").cast("long").alias("cf"),
        F.slice(
            F.sort_array(F.flatten(F.collect_list("p"))), 1, max_postings
        ).alias("p"),
    )
    return (
        merged.filter(F.col("df") >= min_df)
        .select(
            "term",
            "df",
            "cf",
            F.transform("p", lambda x: x["doc_id"]).alias("postings_docs"),
            F.transform("p", lambda x: x["tf"].cast("long")).alias("postings_tfs"),
        )
        .orderBy("term")
    )
