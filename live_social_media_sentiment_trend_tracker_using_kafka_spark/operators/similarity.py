"""Similarity search over embedding columns (SURVEY.md §2.8).

Two tiers, same contract:

- **brute_force_topk** — exact cosine top-k for one query vector. The query
  vector is inlined as a literal array (broadcast by value); the scan is a
  narrow map + TakeOrderedAndProject (per-partition heap, driver merges k·P
  rows). Exact, and the right baseline at any scale where a full scan is
  affordable.
- **lsh_topk / signed random projections** — the scale path: bucket vectors
  by the sign pattern of dot products with ``num_planes`` fixed hyperplanes
  (deterministic seed). Candidates = same-bucket (multi-probe: Hamming-1
  neighbors too), exact cosine re-rank inside buckets only.
- **cosine_near_duplicate_pairs** — all-pairs near-dup above a cosine
  threshold via the same bucketing (embedding-cosine dedup).

No MLlib dependency: hyperplanes are a deterministic numpy matrix inlined as
literals, the dot products are Catalyst ``aggregate``/``zip_with`` — JVM-side,
codegen-friendly, streaming-safe.
"""

from __future__ import annotations

import warnings

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity_col, dot_col
from ..caching import tracked_persist


def _lit_vec(vec) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def brute_force_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k for one query vector (rounded for oracle parity)."""
    sim = cosine_similarity_col(F.col(vec_col), _lit_vec(query_vec))
    return (
        embeddings.select(F.col(id_col), F.round(sim, round_digits).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, num_planes: int, seed: int = 7) -> np.ndarray:
    return np.random.RandomState(seed).normal(size=(num_planes, dim))


def signature_col(vec_col: Column, planes: np.ndarray) -> Column:
    """Signed-random-projection bucket id (int): bit p = sign(v · plane_p)."""
    sig = F.lit(0)
    for p, plane in enumerate(planes):
        sig = sig + F.when(dot_col(vec_col, _lit_vec(plane)) > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sig


def with_lsh_bucket(
    df: DataFrame, dim: int, num_planes: int = 8, vec_col: str = "embedding", seed: int = 7
) -> DataFrame:
    """Attach the SRP bucket id — Arrow kernel (one matmul per batch; the
    interpreted ``signature_col`` twin measured ~0.2 ms/row and dominated
    full-corpus bucketing at 100k vectors)."""
    from ..functions.kernels import make_srp_buckets_udf

    srp = make_srp_buckets_udf([_hyperplanes(dim, num_planes, seed)])
    return df.withColumn("bucket", srp(F.col(vec_col))[0])


def lsh_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 7,
) -> DataFrame:
    """ANN top-k: probe the query's bucket plus its Hamming-1 neighbors,
    exact cosine re-rank inside the probed buckets.

    At 100 TB the bucketed table is written partitioned by ``bucket`` so a
    probe is a partition-pruned scan, not a full pass.
    """
    bucketed = with_lsh_bucket(embeddings, len(query_vec), num_planes, vec_col, seed)
    return lsh_probe(bucketed, query_vec, k, id_col, vec_col, num_planes, seed)


def lsh_probe(
    bucketed: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Probe phase of ``lsh_topk`` against a prebuilt bucketed table — the
    build-once/probe-many split of a served ANN index (callers memoize or
    persist the bucketed table; repeated queries skip re-bucketing the
    corpus)."""
    q = np.asarray(query_vec, dtype=float)
    planes = _hyperplanes(len(q), num_planes, seed)
    qsig = sum((1 << p) for p, plane in enumerate(planes) if float(np.dot(q, plane)) > 0)
    probes = [qsig] + [qsig ^ (1 << p) for p in range(num_planes)]
    from ..functions.kernels import make_query_cosine_udf

    # Arrow rerank: one matmul per batch vs an interpreted fold per row —
    # this is the rows-only scale path (the oracle-exact twin is
    # brute_force_topk, which keeps the Catalyst cosine).
    sim = make_query_cosine_udf(q)(F.col(vec_col))
    return (
        bucketed.filter(F.col("bucket").isin(probes))
        .select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _lloyd_fit(X: np.ndarray, k: int, seed: int, max_iter: int) -> np.ndarray:
    """Seeded k-means++ init + Lloyd iterations on a numpy matrix (driver).

    The matrix is a BOUNDED sample (see ivf_index), so this is O(sample·k)
    driver work regardless of corpus size.
    """
    rng = np.random.RandomState(seed)
    k = min(k, len(X))
    # k-means++ seeding with an INCREMENTAL min-distance array: only the
    # newest centroid's distances are computed per step — O(k·n·d), not the
    # naive O(k²·n·d) that dominated the fit at production n_clusters
    # (measured: the r8 20× ANN probe spent its time here at k=320).
    centroids = [X[rng.randint(len(X))]]
    d2 = ((X - centroids[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        total = d2.sum()
        if total <= 0:
            c = X[rng.randint(len(X))]
        else:
            c = X[rng.choice(len(X), p=d2 / total)]
        centroids.append(c)
        d2 = np.minimum(d2, ((X - c) ** 2).sum(axis=1))
    C = np.vstack(centroids)
    # Lloyd assign via the matmul identity argmin ||x-c||² =
    # argmax (x·c - ||c||²/2) (||x||² is constant across c): one
    # (n×d)@(d×k) GEMM per iteration instead of materializing the
    # (n, k, d) difference tensor.
    for _ in range(max_iter):
        assign = (X @ C.T - 0.5 * (C**2).sum(axis=1)).argmax(axis=1)
        newC = np.vstack(
            [X[assign == j].mean(axis=0) if (assign == j).any() else C[j] for j in range(k)]
        )
        if np.allclose(newC, C):
            break
        C = newC
    return C


def ivf_index(
    embeddings: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 10,
    fit_sample_rows: int = 4096,
) -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantizer: spherical k-means, sample-fit + broadcast-assign.

    Returns (embeddings + ``cluster`` int column, centroid matrix). On the
    unit sphere, nearest-euclidean-centroid == highest-cosine-centroid, so
    k-means over L2-normalized vectors acts as a spherical quantizer for
    cosine search.

    Scale split: the FIT touches only a bounded deterministic sample
    (hash-ordered top-N = uniform pseudo-random; TakeOrdered, no count pass)
    collected to the driver — constant cost at any corpus size, the standard
    IVF train/add split (Lloyd on the driver also avoids MLlib's
    per-iteration job scheduling, which dominated the old path: measured
    6.4 s → ~1 s at sf0.1). The ASSIGN is one narrow Arrow pass with the
    k×dim centroid matrix closed over (broadcast by value). At 100 TB the
    assigned table is written ``partitionBy("cluster")`` so a probe reads
    only nprobe partitions.
    """
    sample = (
        embeddings.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col)))
        .limit(fit_sample_rows)
        .collect()
    )
    X = np.vstack([np.asarray(r[0], dtype=np.float64) for r in sample])
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    centroids = _lloyd_fit(X, n_clusters, seed, max_iter)

    from ..functions.kernels import make_ivf_assign_udf

    assigned = embeddings.withColumn(
        "cluster", make_ivf_assign_udf(centroids)(F.col(vec_col))
    )
    return assigned, centroids


def ivf_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    nprobe: int = 4,
    seed: int = 7,
) -> DataFrame:
    """ANN top-k via IVF: probe the ``nprobe`` clusters whose centroids are
    most cosine-similar to the query, exact cosine re-rank inside them.

    Same contract as ``lsh_topk``; with ``nprobe == n_clusters`` it is
    exact. Centroids are a k×dim dim-table — ranking them against the query
    is driver-side numpy on a handful of floats, not a collect of data rows.
    """
    assigned, centroids = ivf_index(embeddings, n_clusters, vec_col, seed)
    return ivf_probe(assigned, centroids, query_vec, k, id_col, vec_col, nprobe)


def ivf_probe(
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """Probe phase of ``ivf_topk`` against a prebuilt (assigned, centroids)
    index — the build-once/probe-many split: the coarse quantizer is fit and
    the corpus assigned ONCE (callers memoize/persist ``assigned``, or at
    100 TB write it ``partitionBy("cluster")``), and each query costs only a
    partition-pruned scan of its ``nprobe`` clusters."""
    q = np.asarray(query_vec, dtype=float)
    qn = q / np.linalg.norm(q)
    cn = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    from ..functions.kernels import make_query_cosine_udf

    probes = np.argsort(-(cn @ qn))[:nprobe].tolist()
    sim = make_query_cosine_udf(q)(F.col(vec_col))
    return (
        assigned.filter(F.col("cluster").isin(probes))
        .select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Per-label centroid of the embedding vectors, in exploded
    (label, dim, value) form.

    posexplode + one hash aggregation on (label, dim) — map-side partials
    make the shuffle |labels|·|dims| rows regardless of input size. The
    exploded form keeps the result hashable row-by-row (and directly
    SQL-expressible), unlike an array-valued centroid column; zip it back
    with ``collect_list`` ordered by dim when an array is needed.
    """
    return (
        embeddings.select(F.col(label_col), F.posexplode(vec_col).alias("dim", "v"))
        .groupBy(label_col, "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), round_digits).alias("centroid_v"))
        .orderBy(label_col, "dim")
    )


def centroid_separation(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Pairwise cosine between label centroids — the cluster-separation
    audit next to label_cosine_report (that one measures within-label
    cohesion; this one measures BETWEEN-label confusability: a pair near
    1.0 means two labels occupy the same embedding region and any
    label-conditioned dedup/mixture logic can't tell them apart).

    Returns (label_a, label_b, cosine) for label_a < label_b, ordered by
    the pair.

    Cross-engine determinism: centroids are label_centroids' rounded
    6-dp components (the proven identity), zipped back to per-label
    arrays ordered by dim; the cosine then reduces each ARRAY row
    sequentially (Spark ``aggregate`` HOF and DuckDB list_dot_product
    both fold left-to-right), so no accumulation-order drift exists
    anywhere.

    Scale shape: one |labels|·|dims| hash agg (label_centroids' shuffle)
    + a |labels|-row zip agg; the pair join crosses only the tiny
    centroid-array table (broadcast, C(|labels|,2) output rows).
    """
    from ..caching import tracked_persist
    from ..functions.vectors import cosine_similarity_col

    cent = label_centroids(embeddings, label_col, vec_col, round_digits)
    # Persisted: BOTH sides of the pair join read this table — without the
    # pin each branch would re-run the corpus-sized centroid agg (the
    # formatted explain still prints the cached subplan under each branch,
    # which is why the plan test budgets 4 printed hash exchanges for what
    # executes as 2).
    carr = tracked_persist(
        cent.groupBy(label_col).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "centroid_v"))),
                lambda s: s.centroid_v,
            ).alias("cvec")
        )
    )
    a = carr.select(F.col(label_col).alias("label_a"), F.col("cvec").alias("va"))
    b = carr.select(F.col(label_col).alias("label_b"), F.col("cvec").alias("vb"))
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(
                cosine_similarity_col(F.col("va"), F.col("vb")), round_digits
            ).alias("cosine"),
        )
        .orderBy("label_a", "label_b")
    )


def cosine_pairs_exact(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold — O(n²) BY DESIGN.

    This is the verification baseline for ``cosine_near_duplicate_pairs``
    (the bucketed scale path): run it on an explicitly bounded sample to
    hash-check the bucketed path's arithmetic and recall, never on the full
    table. The pair generation is a nested-loop join on ``id_a < id_b`` —
    Spark broadcasts the smaller side; at sample sizes (10²-10³ rows) that
    is a single executor-local loop.
    """
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    sim = F.round(cosine_similarity_col(F.col("va"), F.col("vb")), round_digits)
    # Threshold via explode(filter(array(sim))) — the single-evaluation
    # idiom from the shingle tier (r13 change 10): .filter(cosine >= t) on
    # the projected column collapses into a Filter that re-computes the
    # whole zip_with+aggregate cosine per pair, then the projection
    # computes it AGAIN for survivors (2x the dominant arithmetic of this
    # O(n²) verify). The higher-order filter evaluates the cosine once;
    # explode of the emptied wrapper drops sub-threshold pairs —
    # bit-identical rows either way (r14).
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.explode(
                F.filter(F.array(sim), lambda c: c >= threshold)
            ).alias("cosine"),
        )
        .orderBy("id_a", "id_b")
    )


def srp_parameters(
    n_rows: int, threshold: float, target_bucket: int = 8, miss_rate: float = 0.01
) -> tuple[int, int]:
    """(num_planes, num_tables) for OR-amplified SRP at a given corpus size.

    Bucket count must GROW with the corpus: with p planes there are only 2^p
    buckets, so fixed p makes expected bucket size n/2^p — and intra-bucket
    candidate pairs O(n²/2^p) — quadratic as n grows (measured: the x50
    probe exploded exactly this way). planes = ceil(log2(n/target_bucket))
    keeps buckets ~target_bucket rows, so candidates stay ~n·target_bucket.
    Recall per table is p_coll^planes with p_coll = 1 - arccos(threshold)/π;
    tables = ceil(ln(miss_rate)/ln(1 - p_coll^planes)) restores overall
    recall 1 - miss_rate — the standard OR-amplification tradeoff: table
    count grows slowly (log in miss rate) while bucket pressure drops
    exponentially in planes. Verify-candidate volume scales ~
    target_bucket^0.85 · n while banding rows grow only ~target^-0.15, so
    SMALL target buckets win: 8 (default) cut the 100k-vector verify ~5×
    vs 64 in measurement.
    """
    import math

    planes = max(4, min(24, math.ceil(math.log2(max(n_rows, 2) / target_bucket))))
    p_coll = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    per_table = p_coll**planes
    if per_table >= 1.0 - 1e-12:
        tables = 1
    else:
        tables = max(1, min(32, math.ceil(math.log(miss_rate) / math.log(1.0 - per_table))))
    return planes, tables


def cosine_near_duplicate_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int | None = None,
    num_tables: int | None = None,
    seed: int = 7,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup: LSH candidates → exact cosine verify.

    OR-amplified sign-random-projection LSH: ``num_tables`` independent
    hash tables (disjoint hyperplane sets), candidates = pairs sharing a
    bucket in ANY table. Per-plane collision prob for angle θ is 1 - θ/π, so
    pair recall is 1 - (1 - p^num_planes)^num_tables — a single table
    (AND-only) misses near pairs with non-trivial probability; four tables
    push the miss rate below 1e-4 at cosine ≥ 0.95. Only intra-bucket pairs
    are exactly scored — never O(n²); the banded id table is id+bucket only
    (vectors are joined back just for the verify).

    ``num_planes``/``num_tables`` default to ``srp_parameters`` — sized from
    ONE count() of the input so bucket population stays bounded as the
    corpus grows; pass explicit values to pin a layout (e.g. when writing a
    bucket-partitioned table for reuse), or ``n_rows_hint`` to skip the
    sizing scan when the caller already knows the corpus size."""
    from ..functions.kernels import make_srp_buckets_udf

    if num_planes is None or num_tables is None:
        n = n_rows_hint if n_rows_hint is not None else embeddings.count()
        auto_planes, auto_tables = srp_parameters(n, threshold)
        if num_planes is None:
            num_planes = auto_planes
        if num_tables is None:
            num_tables = auto_tables

    # All num_tables×num_planes projections in ONE Arrow matmul per batch —
    # the interpreted-HOF twin (signature_col per table) costs ~0.4 ms/row at
    # dim=64 and dominated this operator's runtime. posexplode turns the
    # per-table bucket array into (tbl, bucket) banding rows.
    from .skew import fan_out

    srp = make_srp_buckets_udf([_hyperplanes(dim, num_planes, seed + t) for t in range(num_tables)])
    banded = tracked_persist(
        fan_out(embeddings).select(
            F.col(id_col), F.posexplode(srp(F.col(vec_col))).alias("tbl", "bucket")
        )
    )  # consumed by both self-join sides: one signature pass, not two
    l, r = banded.alias("l"), banded.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    from ..functions.kernels import pair_cosine_udf

    # Vector-carrying verify sides must never broadcast (same measured
    # failure as the shingle joins in operators/dedup.py: stale size
    # estimate -> driver GC-thrash at 50x sf0.1); sort-merge spills.
    vecs = embeddings.hint("merge")
    a = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    # Candidate volume is ~|buckets|·avg_bucket² pairs — verify each with the
    # Arrow pair-cosine kernel (one vectorized reduction per batch) instead
    # of an interpreted per-row HOF cosine, which dominated this operator.
    #
    # asNondeterministic (guide §4.4): the threshold predicate on the
    # projected ``cosine`` column otherwise collapses below the projection
    # and the UDF is extracted TWICE — two ArrowEvalPython nodes, every
    # candidate pair crossing the Python boundary and paying the kernel
    # 2x (verified in plans/r14/cosine_near_dups_{before,after}.txt). The
    # kernel is pure (deterministic per row); the marker only tells the
    # optimizer not to duplicate/reorder it, yielding one ArrowEvalPython
    # with the Filter reading the computed column. No other predicate
    # needs to cross this projection, so nothing legitimate is blocked.
    sim = pair_cosine_udf().asNondeterministic()(F.col("v_a"), F.col("v_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(sim, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )


def pq_index(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 7,
    fit_sample_rows: int = 4096,
) -> tuple[DataFrame, np.ndarray]:
    """Product quantization index: per-subspace codebooks + compact codes.

    Public method (Jégou, Douze, Schmid — "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011): split the dim into ``m`` subspaces, run
    k-means with ``k`` centroids in each, store each vector as m small codes
    — dim×4 bytes shrink to m bytes (k<=256), which is what makes
    billion-vector search fit in memory at all.

    Same scale split as ``ivf_index``: codebooks fit on a bounded
    hash-ordered sample driver-side (constant cost at any corpus size),
    encoding is one Arrow pass with the (m, k, dim/m) codebook tensor in
    the closure. Vectors are L2-normalized before coding so ADC L2
    distances rank like cosine.
    """
    from ..functions.kernels import make_pq_encode_udf

    sample = (
        embeddings.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col)))
        .limit(fit_sample_rows)
        .collect()
    )
    X = np.vstack([np.asarray(r[0], dtype=np.float64) for r in sample])
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    codebooks = np.stack(
        [_lloyd_fit(X[:, j * dsub : (j + 1) * dsub], k, seed + j, 10) for j in range(m)]
    )  # (m, k, dsub)
    encode = make_pq_encode_udf(codebooks)
    return embeddings.withColumn("pq_code", encode(F.col(vec_col))), codebooks


def pq_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    codebook_k: int = 16,
    refine: int = 8,
    seed: int = 7,
) -> DataFrame:
    """ANN top-k via PQ asymmetric distance (ADC) + exact rerank.

    ADC: precompute the query's (m, k) subspace distance table driver-side;
    a row's approximate distance is m table lookups summed — no float math
    against the original vector, which never needs to be read for the scan
    (at 100 TB the codes table is the only thing scanned; original vectors
    are fetched just for the ``refine``·k rerank). Approximate top
    ``refine``·k by ADC, then exact cosine on that bounded set — the
    standard accuracy recovery, keeping the result contract identical to
    brute_force_topk up to quantization recall (rows-only check; recall
    asserted in tests).
    """
    coded, codebooks = pq_index(embeddings, m, codebook_k, vec_col, seed)
    return pq_probe(coded, codebooks, query_vec, k, id_col, vec_col, m, refine)


def pq_probe(
    coded: DataFrame,
    codebooks: np.ndarray,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    refine: int = 8,
) -> DataFrame:
    """ADC scan + exact rerank against a prebuilt PQ codes table — the
    build-once/probe-many split: codebooks are fit and the corpus encoded
    ONCE (callers memoize/persist ``coded``); each query pays only the
    per-query distance table (driver numpy on an (m, k, dsub) tensor) and
    the table-lookup scan."""
    from ..functions.kernels import make_adc_udf, make_query_cosine_udf

    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    dsub = len(q) // m
    # (m, k) table of squared L2 distances query-subvector vs centroids
    dist_table = np.stack(
        [
            ((codebooks[j] - qn[j * dsub : (j + 1) * dsub]) ** 2).sum(1)
            for j in range(m)
        ]
    )
    adc = make_adc_udf(dist_table)
    approx = (
        coded.select(F.col(id_col), F.col(vec_col), adc(F.col("pq_code")).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(refine * k)
    )
    sim = make_query_cosine_udf(q)(F.col(vec_col))
    return (
        approx.select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _stack_cell_vectors(series, ids: np.ndarray) -> np.ndarray:
    """Stack one cell's vectors for the grouped GEMM, failing with a NAMED
    error on ragged/wrong-dim rows (r8 ADVICE: a raw ``np.vstack`` died
    with an opaque shape error inside the executor task). Nulls are
    filtered SQL-side before the kernel; anything still invalid here is a
    malformed embedding the caller must fix, not score."""
    from ..functions.kernels import _stack_vectors

    M, valid = _stack_vectors(series)
    if not valid.all():
        bad = ids[~valid][:5]
        raise ValueError(
            f"celled GEMM: {int((~valid).sum())} vector(s) in this cell are "
            f"ragged or wrong-dim (e.g. ids {bad.tolist()}) — every "
            "embedding must share one dimension"
        )
    return M


def cap_cell_sizes(
    assigned: DataFrame,
    dim: int,
    max_cell_rows: int,
    cell_col: str = "cluster",
    vec_col: str = "embedding",
    seed: int = 7,
    max_split_bits: int = 16,
    salt_col: str | None = None,
) -> DataFrame:
    """Mega-cell guard for IVF-celled pair operators: re-split every cell
    whose population exceeds ``max_cell_rows``, so within-cell candidate
    volume stays O(Σ min(cᵢ, max_cell_rows)²) even when the coarse
    quantizer lands a hot cell. Two stages:

    1. **SRP sub-bucketing** (locality-preserving): nearby vectors share
       sign bits with probability 1 − θ/π per plane, so a directionally
       DIVERSE hot cell (quantizer too coarse) splits with the same
       boundary-recall tradeoff as the coarse cells themselves. Cell c
       gets ``ceil(log2(n_c / max_cell_rows))`` bits. One Arrow pass, no
       per-cell driver fit.
    2. **Residual id-salt** (bounded-by-construction): a pile of
       direction-IDENTICAL vectors defeats every direction-based hash —
       they share all sign bits, so stage 1 leaves the pile whole
       (measured: a planted 75%-identical pile stayed one cell). When
       ``salt_col`` is given, still-oversized refined cells are salted by
       ``pmod(xxhash64(id), ceil(n_c / max_cell_rows))``. This DOES cut
       true same-pile pairs across salt buckets — the documented recall
       cost — but for identical piles any within-bucket neighbor is
       cosine-equivalent to any cross-bucket one, so top-k/keep-one
       consumers (knn_graph) lose nothing semantically
       while candidates stay bounded. Omit ``salt_col`` to keep exact
       within-cell pair semantics (and unbounded identical piles).

    Cost: per stage, one per-cell count aggregate that collects ONLY the
    oversized cells (≤ n / max_cell_rows rows — a bounded control-plane
    fetch) + one narrow pass. Returns ``assigned`` with ``cell_col``
    rewritten to an opaque refined id (only equality matters); unchanged
    when no cell exceeds the cap.
    """
    import math

    def _oversized(df) -> list:
        return (
            df.groupBy(cell_col)
            .count()
            .filter(F.col("count") > max_cell_rows)
            .collect()
        )

    over = _oversized(assigned)
    if not over:
        return assigned
    # the re-split trades recall for boundedness — make it observable
    # (r8 ADVICE): silent firing hid the recall change from callers
    warnings.warn(
        f"cap_cell_sizes: {len(over)} cell(s) exceed max_cell_rows="
        f"{max_cell_rows}; SRP sub-split applied — true pairs straddling "
        "sub-buckets are dropped",
        stacklevel=2,
    )
    bits = {
        r[cell_col]: min(max_split_bits, math.ceil(math.log2(r["count"] / max_cell_rows)))
        for r in over
    }
    from ..functions.kernels import make_srp_buckets_udf

    planes = _hyperplanes(dim, max(bits.values()), seed + 101)
    srp = make_srp_buckets_udf([planes])(F.col(vec_col))[0]
    modulus = F.lit(1)
    for c, b in sorted(bits.items()):
        modulus = F.when(F.col(cell_col) == F.lit(c), F.lit(1 << b)).otherwise(modulus)
    refined = assigned.withColumn(
        cell_col,
        F.col(cell_col).cast("long") * F.lit(1 << max_split_bits) + (srp % modulus),
    )
    if salt_col is None:
        return refined
    still = _oversized(refined)
    if not still:
        return refined
    warnings.warn(
        f"cap_cell_sizes: {len(still)} refined cell(s) still oversized "
        "(direction-identical pile); id-salt applied — same-pile pairs "
        "spanning salt buckets are dropped (cosine-equivalent neighbors "
        "remain within each bucket)",
        stacklevel=2,
    )
    buckets = F.lit(1)
    for r in sorted(still, key=lambda r: r[cell_col]):
        buckets = F.when(
            F.col(cell_col) == F.lit(r[cell_col]),
            F.lit(int(math.ceil(r["count"] / max_cell_rows))),
        ).otherwise(buckets)
    salt = F.pmod(F.xxhash64(F.col(salt_col)), buckets)
    return refined.withColumn(
        cell_col, F.col(cell_col) * F.lit(1 << 32) + salt
    )


def semantic_near_duplicate_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_cell_rows: int = 4096,
    capped_index: tuple | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023, public):
    coarse k-means partition of the embedding space, then EXACT cosine pairs
    computed only WITHIN each cluster.

    ``capped_index``: a prebuilt ``(assigned, centroids)`` pair — exactly
    what ``ivf_index`` + ``cap_cell_sizes`` (same params) produce — e.g. a
    session-memoized persisted table shared with ``knn_graph`` over the
    same corpus. Skips the per-call quantizer fit (one TakeOrdered collect
    over the corpus) and the cap's oversized-cell probe; the build-once/
    probe-many split of the ANN index family (r14).

    The complementary tradeoff to ``cosine_near_duplicate_pairs``: SRP
    banding is recall-tuned for very high thresholds (near-identical
    vectors), while the cluster partition catches looser *semantic*
    redundancy (same meaning, different words → same cluster) at moderate
    thresholds where SRP would need many tables. Candidate volume is
    Σ c_i² ≈ n²/k for balanced clusters — the published SemDeDup cost —
    so ``n_clusters`` must GROW with the corpus (same lesson as
    ``srp_parameters``): at 100 TB pass n_clusters ~ n/⟨cluster⟩ for a
    bounded mean cluster population; the k-means fit stays a bounded driver
    sample regardless (``ivf_index``).

    Returns (id_a, id_b, cosine) with cosine ≥ threshold and id_a < id_b,
    ordered deterministically. Execution (r8 rewrite, same reasoning as
    ``knn_graph``): ONE shuffle groups each cell into an ``applyInPandas``
    task that computes the cell's cosine matrix via row-chunked GEMMs and
    emits only the threshold-passing upper-triangle pairs — each vector
    crosses the Arrow boundary once (Σc·d floats), where the old
    cell-self-join + pair-kernel formulation shipped both vectors once per
    candidate PAIR (Σc²·2d). Never compares across clusters —
    boundary-straddling pairs are the documented recall loss, mitigated by
    raising ``n_clusters`` more slowly than n. Cells exceeding
    ``max_cell_rows`` are SRP re-split with a residual id-salt
    (``cap_cell_sizes``) so a skewed quantizer — or a pile of identical
    embeddings — cannot silently restore the n² blowup in one hot cell
    (post-rewrite the guard's value is per-task serialism and memory, not
    small-scale wall-clock — see PLANS.md). The salt can split a true
    near-dup pair across buckets (bounded recall cost, same family as the
    cell boundaries); a keep-one rule over these pairs then keeps
    ≤ #salt-buckets representatives of an identical pile instead of
    exactly one.
    """
    import pandas as pd

    if capped_index is not None:
        assigned, centroids = capped_index
    else:
        assigned, centroids = ivf_index(embeddings, n_clusters, vec_col, seed=seed)
        if max_cell_rows:
            assigned = cap_cell_sizes(
                assigned, int(centroids.shape[1]), max_cell_rows, "cluster", vec_col,
                seed, salt_col=id_col,
            )
    sides = assigned.select(
        "cluster", F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).filter(F.col("_v").isNotNull())

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        c = len(pdf)
        if c < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        ids = pdf["_id"].to_numpy()
        M = _stack_cell_vectors(pdf["_v"], ids)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        a_out, b_out, cos_out = [], [], []
        for lo in range(0, c, 1024):  # row-chunked GEMM bounds task memory
            hi = min(lo + 1024, c)
            S = np.round(M[lo:hi] @ M.T, 6)
            keep = S >= threshold
            for r in range(hi - lo):
                cols = np.where(keep[r])[0]
                for j in cols:
                    ia, ib = ids[lo + r], ids[j]
                    if ia < ib:  # upper triangle by ID, self excluded
                        a_out.append(ia)
                        b_out.append(ib)
                        cos_out.append(S[r, j])
        return pd.DataFrame(
            {
                "id_a": np.asarray(a_out, dtype=np.int64),
                "id_b": np.asarray(b_out, dtype=np.int64),
                "cosine": np.asarray(cos_out, dtype=np.float64),
            }
        )

    return (
        sides.groupBy("cluster")
        .applyInPandas(cell_pairs, "id_a long, id_b long, cosine double")
        .orderBy("id_a", "id_b")
    )


def label_cosine_report(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Per-label embedding-hygiene report: the distribution of each
    vector's cosine to its OWN label centroid — low/negative cosines are
    mislabel/noise candidates (the nearest-centroid sanity check a
    pipeline runs before trusting labels for class-conditional sampling
    or per-label ANN routing).

    Output: (label, n_vecs, mean_cos, p05_cos, min_cos, n_neg) — a
    distributional report, so no arbitrary outlier threshold is baked in.

    Scale shape: the centroid aggregation moves |labels|·|dims| rows
    (map-side partials compress the corpus); centroids re-assemble to
    arrays and BROADCAST back (labels are a dim table); scoring is one
    narrow scan with JVM-side zip_with/aggregate arithmetic, PERSISTED as
    the slim (label, cos) projection so the moment stats and the
    percentile reconstruction both read it once; the roll-up is |labels|
    rows. The p05 rides ``sampling.exact_percentiles`` — the per-label
    exact ``percentile()`` aggregate buffers each label's whole cosine
    multiset on one reducer (the r11-measured few-group cliff; labels are
    a dim table, the corpus is not). Centroid values round to
    ``round_digits`` BEFORE scoring so the cosine arithmetic matches the
    DuckDB oracle bit-for-bit.
    """
    from ..caching import tracked_persist
    from .sampling import exact_percentiles

    cent = (
        embeddings.select(F.col(label_col), F.posexplode(vec_col).alias("dim", "v"))
        .groupBy(label_col, "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), round_digits).alias("cv"))
    )
    carr = cent.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cv"))), lambda s: s["cv"]
        ).alias("cvec")
    )
    cos = F.round(cosine_similarity_col(F.col(vec_col), F.col("cvec")), round_digits)
    scored = tracked_persist(
        embeddings.join(carr, label_col)
        .select(F.col(label_col), cos.alias("cos"))
    )
    p05 = exact_percentiles(scored, [label_col], "cos", [0.05], out_col="_p").select(
        F.col(label_col).alias("_p_label"),
        F.round(F.element_at("_p", 1), round_digits).alias("p05_cos"),
    )
    return (
        scored.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("cos"), round_digits).alias("mean_cos"),
            F.min("cos").alias("min_cos"),
            F.sum((F.col("cos") < 0).cast("long")).alias("n_neg"),
        )
        .join(p05, F.col(label_col).eqNullSafe(F.col("_p_label")))
        .select(label_col, "n_vecs", "mean_cos", "p05_cos", "min_cos", "n_neg")
        .orderBy(label_col)
    )


def embedding_outliers(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 25,
    round_digits: int = 6,
) -> DataFrame:
    """Top-k embedding-space outliers: the vectors farthest from the
    GLOBAL centroid, each with its distance z-score — the "weird inputs"
    screen a curation pipeline runs before trusting embedding-based
    dedup or clustering (a far outlier is usually a corrupt row, an
    out-of-domain doc, or an encoder failure).

    Returns (vec_id, label, dist, z_score) — k rows, farthest first.

    Cross-engine determinism: the centroid is the per-dim 6-dp-rounded
    mean (label_centroids' proven identity); the squared distance
    expands to dot(v,v) − 2·dot(v,c) + dot(c,c), all three dots
    sequential left-to-right folds over double-cast arrays (Spark
    ``aggregate`` HOF ≡ DuckDB list_dot_product), so every distance is
    bit-identical. The z-score's mean/stddev round to 6 dp before the
    per-row arithmetic, and the top-k cutoff orders on the ROUNDED
    distance with an id tiebreak.

    Scale shape: centroid = one |dims|-row hash agg (map-side partials),
    broadcast back as a 1-row array; distances are a narrow map; the
    distance moments are a second 1-row agg broadcast the same way;
    top-k is TakeOrderedAndProject. Nothing wide ever shuffles.
    """
    from ..caching import tracked_persist
    from ..functions.vectors import dot_col

    cent = (
        embeddings.select(F.posexplode(vec_col).alias("dim", "v"))
        .groupBy("dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), round_digits).alias("cv"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                lambda s: s.cv,
            ).alias("cvec")
        )
    )
    vecs = embeddings.select(
        id_col,
        label_col,
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    with_d = tracked_persist(
        vecs.crossJoin(cent).select(
            id_col,
            label_col,
            F.round(
                F.sqrt(
                    F.greatest(
                        dot_col(F.col("v"), F.col("v"))
                        - F.lit(2.0) * dot_col(F.col("v"), F.col("cvec"))
                        + dot_col(F.col("cvec"), F.col("cvec")),
                        F.lit(0.0),
                    )
                ),
                round_digits,
            ).alias("dist"),
        )
    )
    moments = with_d.agg(
        F.round(F.avg("dist"), round_digits).alias("mu"),
        F.round(F.stddev_samp("dist"), round_digits).alias("sigma"),
    )
    return (
        with_d.crossJoin(moments)
        .select(
            id_col,
            label_col,
            "dist",
            F.round(
                (F.col("dist") - F.col("mu")) / F.col("sigma"), round_digits
            ).alias("z_score"),
        )
        .orderBy(F.desc("dist"), id_col)
        .limit(k)
    )


def knn_graph(
    embeddings: DataFrame,
    k: int = 3,
    n_clusters: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_cell_rows: int = 4096,
    capped_index: tuple | None = None,
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH: for every vector, its top-k
    most-cosine-similar neighbors — the all-points counterpart of the
    single-query top-k family (ivf_topk answers "neighbors of THIS
    query"; this answers "neighbors of EVERY point", the input to graph
    dedup, label propagation, and diversity sampling).

    IVF-celled: candidates are restricted to each vector's own k-means
    cell (the SemDeDup partition), so candidate volume is Σ c_i² ≈ n²/C —
    grow ``n_clusters`` with the corpus for a bounded mean cell. Recall
    loss at cell boundaries is the documented tradeoff (same as
    semantic_near_duplicate_pairs); the exact twin on a bounded sample is
    the evidence contract (tests/test_query_contracts.py).

    Execution (r8 rewrite): ONE shuffle groups each cell's rows into an
    ``applyInPandas`` task that computes the cell's cosine matrix as
    chunked GEMMs and emits each row's top-k directly. The previous
    pair-row formulation (cell self-join + Arrow pair-cosine + window)
    shipped BOTH vectors across the Python boundary once per candidate
    PAIR — Σc²·2d floats of Arrow traffic; grouping ships each vector
    ONCE (Σc·d) and replaces the join+sort machinery with a matmul
    (measured 104 s → see PLANS.md at 20×/n_clusters=320). Per-task
    memory is bounded by the GEMM row-chunk (1024 × cell) plus the cell's
    vectors — the mega-cell guard below caps the cell side.

    Mega-cell guard: a skewed quantizer can land one hot cell that
    re-creates the n² blowup regardless of ``n_clusters``; any cell over
    ``max_cell_rows`` is re-split by SRP sub-bucketing plus a residual
    id-salt for direction-identical piles (``cap_cell_sizes``) so
    per-cell candidates stay bounded without manual knob-tuning at 100×.
    The salt stage costs nothing semantically HERE: in an identical pile
    every neighbor ties at cosine 1.0, so a within-salt-bucket top-k is
    as good as the global one. Set ``max_cell_rows=0``/None to disable
    (exact within-cell semantics).

    Returns (vec_id, rank, neighbor_id, cosine), rank 1..k by (cosine
    desc, neighbor_id asc), ordered by (vec_id, rank). Vectors alone in
    their cell emit no rows.

    ``capped_index``: prebuilt ``(assigned, centroids)`` — same contract as
    ``semantic_near_duplicate_pairs`` (r14): skips the per-call quantizer
    fit collect and the cap's oversized-cell probe when a session-memoized
    index over the same corpus exists.
    """
    import pandas as pd

    if capped_index is not None:
        assigned, centroids = capped_index
    else:
        assigned, centroids = ivf_index(embeddings, n_clusters, vec_col, seed=seed)
        if max_cell_rows:
            assigned = cap_cell_sizes(
                assigned, int(centroids.shape[1]), max_cell_rows, "cluster", vec_col,
                seed, salt_col=id_col,
            )
    # null vectors can't participate in a GEMM (the old pair kernel scored
    # them NaN, which never ranked anyway); integer ids assumed (the family
    # schema) so the output columns stay long-typed
    sides = assigned.select(
        "cluster", F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).filter(F.col("_v").isNotNull())

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        c = len(pdf)
        if c < 2:
            return pd.DataFrame(
                {"vec_id": [], "rank": [], "neighbor_id": [], "cosine": []}
            ).astype({"vec_id": "int64", "rank": "int32", "neighbor_id": "int64", "cosine": "float64"})
        ids = pdf["_id"].to_numpy()
        M = _stack_cell_vectors(pdf["_v"], ids)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        kk = min(k, c - 1)
        # neighbor order ties on (cosine desc, id asc): argsort a composite
        # over ROUNDED cosines (the public contract rounds to 6) by sorting
        # ids ascending first, then a STABLE sort on -cosine
        id_order = np.argsort(ids, kind="stable")
        # loop invariants hoisted out of the per-row hot loop (r8 ADVICE):
        # the id-sorted view, the reusable self-mask, and each row's
        # position in that view (inverse permutation — O(1) per row
        # instead of an O(c) np.where scan)
        row_ids = ids[id_order]
        self_pos_of = np.empty(c, dtype=np.int64)
        self_pos_of[id_order] = np.arange(c)
        mask = np.ones(c, dtype=bool)
        out_src, out_rank, out_nbr, out_cos = [], [], [], []
        for lo in range(0, c, 1024):  # row-chunked GEMM bounds task memory
            hi = min(lo + 1024, c)
            S = np.round(M[lo:hi] @ M.T, 6)  # (chunk, c)
            for r in range(hi - lo):
                row = S[r][id_order]
                self_pos = self_pos_of[lo + r]
                mask[self_pos] = False
                cand_cos, cand_ids = row[mask], row_ids[mask]
                mask[self_pos] = True
                top = np.argsort(-cand_cos, kind="stable")[:kk]
                out_src.extend([ids[lo + r]] * len(top))
                out_rank.extend(range(1, len(top) + 1))
                out_nbr.extend(cand_ids[top])
                out_cos.extend(cand_cos[top])
        return pd.DataFrame(
            {
                "vec_id": np.asarray(out_src, dtype=np.int64),
                "rank": np.asarray(out_rank, dtype=np.int32),
                "neighbor_id": np.asarray(out_nbr, dtype=np.int64),
                "cosine": np.asarray(out_cos, dtype=np.float64),
            }
        )

    return (
        sides.groupBy("cluster")
        .applyInPandas(cell_topk, "vec_id long, rank int, neighbor_id long, cosine double")
        .orderBy("vec_id", "rank")
    )


def ivf_search_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 7,
) -> DataFrame:
    """BATCH ANN search join: top-k corpus neighbors for EVERY row of a
    query-vector table — the serving-batch shape (rerank candidates for a
    request batch, label a feed against a prototype bank) that the
    single-vector ``ivf_topk`` answers one collect-per-query and
    ``knn_graph`` answers only for corpus-vs-itself.

    Plan shape at 100 TB: the corpus is IVF-assigned in one narrow Arrow
    pass (fit on a bounded sample, ivf_index) and shuffled ONCE on the
    cell key; the query table — small by definition of a serving batch —
    computes its ``nprobe`` probe cells per row with one Arrow matmul
    (make_ivf_probes_udf), explodes to (cell, query) rows, and joins on
    the cell key — AQE broadcasts the probe frame while it is small and
    shuffles it when it is not. Candidate volume is
    Σ_q (probed cell sizes) ≈ |queries| · nprobe · n/C — linear in corpus
    size with a bounded constant, no query-side collect, no corpus
    re-scan per query. The
    per-query top-k window partitions on the query id (|queries| × k·cell
    candidates, never corpus-sized state).

    Returns (query_id, rank, vec_id, cosine), rank 1..k by (cosine desc,
    id asc). Recall is the IVF tradeoff (cells missed by the probe set);
    with nprobe == n_clusters the result is exact — the contract test
    compares against brute force per query. Building the frame runs one
    Spark job, the IVF fit's bounded sample collect.
    """
    from pyspark.sql import Window

    cand = _ivf_probe_candidates(
        corpus, queries, n_clusters, nprobe, id_col, vec_col, seed,
        query_cols=[query_id_col],
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, F.col("rank").cast("int").alias("rank"), id_col, "cosine")
        .orderBy(query_id_col, "rank")
    )


def _ivf_probe_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    n_clusters: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    seed: int,
    query_cols: list[str],
) -> DataFrame:
    """Shared candidate-pair builder for the IVF probe-join family
    (ivf_search_join, semantic_decontaminate): corpus IVF-assigned once,
    query frame exploded to its nprobe probe cells, joined on the cell
    key. Returns (query_cols..., id_col, cosine)."""
    from ..functions.kernels import make_ivf_assign_udf, make_ivf_probes_udf, pair_cosine_udf

    _, centroids = ivf_index(corpus, n_clusters, vec_col, seed=seed)
    # asNondeterministic (same reason as cosine_near_duplicate_pairs): the
    # join's inferred isnotnull(cluster) filter otherwise collapses below
    # the projection and the assign kernel runs twice per corpus row. The
    # kernel is pure; the marker only stops the optimizer duplicating it.
    assign = make_ivf_assign_udf(centroids).asNondeterministic()
    assigned = corpus.withColumn("cluster", assign(F.col(vec_col)))
    probes = make_ivf_probes_udf(centroids, nprobe)
    q = queries.select(
        *[F.col(c) for c in query_cols],
        F.col(vec_col).alias("_qv"),
        F.explode(probes(F.col(vec_col))).alias("cluster"),
    )
    sim = pair_cosine_udf()(F.col(vec_col), F.col("_qv"))
    return (
        assigned.join(q, "cluster")
        .select(
            *[F.col(c) for c in query_cols],
            F.col(id_col),
            F.round(sim, 6).alias("cosine"),
        )
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    m: int = 8,
    codebook_k: int = 16,
    refine: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """IVF-PQ: the two index tiers COMPOSED, which is the configuration
    billion-vector systems actually deploy (FAISS IVFADC; Jégou et al.
    2011) — IVF cells prune WHICH rows are scanned (nprobe/n_clusters of
    the corpus), PQ codes shrink WHAT is scanned per row (m bytes, not
    dim×4), and an exact rerank on refine·k survivors recovers accuracy.

    Scale anatomy per query against a prebuilt index: a driver-side
    numpy rank of k×dim centroids picks the probe cells (no data job), a
    partition-pruned scan of the probed cells' CODES does m table
    lookups per row (original vectors untouched), and only refine·k
    rows' vectors are read for the exact rerank. At 100 TB: write the
    coded table ``partitionBy("cluster")`` and each query touches
    nprobe partitions of a bytes-per-row table — the only configuration
    in the family whose per-query cost shrinks with BOTH corpus fraction
    (IVF) and bytes-per-row (PQ).

    Both fits are bounded-sample driver work (ivf_index / pq_index); the
    build is two narrow Arrow passes. Exactness: with
    ``nprobe == n_clusters`` and a large ``refine`` the result equals
    brute force (contract-tested); production settings trade recall for
    the pruning factor, same as every IVF-PQ deployment.
    """
    assigned, centroids = ivf_index(embeddings, n_clusters, vec_col, seed)
    coded, codebooks = pq_index(assigned, m, codebook_k, vec_col, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    cn = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    probes = np.argsort(-(cn @ qn))[:nprobe].tolist()
    pruned = coded.filter(F.col("cluster").isin(probes))
    return pq_probe(pruned, codebooks, query_vec, k, id_col, vec_col, m, refine)


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """EMBEDDING-level benchmark decontamination: flag every corpus row
    whose vector is within cosine ``threshold`` of ANY benchmark item —
    the semantic tier above n-gram decontamination
    (operators/contamination.py), catching paraphrased eval leakage that
    token overlap misses.

    Same cell-pruned shape as ``ivf_search_join`` (shared
    ``_ivf_probe_candidates`` builder; AQE picks the probe join's
    strategy, so a caller's unbounded benchmark set shuffles instead of
    broadcasting), but a THRESHOLD filter
    instead of per-query top-k: top-k per benchmark item would silently
    miss contaminated docs once more than k corpus rows match one
    benchmark item. Candidate volume is |benchmark| · nprobe · n/C —
    linear in corpus size ONLY while the benchmark is bounded and nprobe
    < n_clusters; driving it with a corpus-proportional benchmark at
    full probe width degenerates to the corpus×benchmark pair scan (the
    r9 review caught the registered query doing exactly that — it now
    uses a bounded benchmark and partial probes). Recall below full
    probe width is the IVF tradeoff, same as the rest of the family.

    Returns corpus ids + (bench_cosine — the max cosine to any benchmark
    item among candidates, null if none met the threshold) +
    ``contaminated`` flag. Anti-join the flagged ids to clean, or keep
    the report for audit.
    """
    flagged = (
        _ivf_probe_candidates(
            corpus, benchmark, n_clusters, nprobe, id_col, vec_col, seed,
            query_cols=[],
        )
        .filter(F.col("cosine") >= threshold)
        .groupBy(id_col)
        .agg(F.max("cosine").alias("bench_cosine"))
    )
    return (
        corpus.select(id_col)
        .join(flagged, id_col, "left")
        .select(
            F.col(id_col),
            "bench_cosine",
            F.col("bench_cosine").isNotNull().alias("contaminated"),
        )
    )


def embedding_dim_stats(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-DIMENSION moments across the corpus — the whitening/centering
    table every PQ/IVF preprocessing step needs (subtract ``mean``, divide
    by ``std``) plus a range audit (a dimension with ``std`` ≈ 0 or an
    outlier min/max means a broken encoder export).

    Scale shape: ``posexplode`` fans each vector into |dim| rows, but the
    hash aggregation is PARTIAL — every partition reduces to at most |dim|
    rows (count/sum/sumsq/min/max) before the single exchange, so the
    shuffle moves O(partitions × dim) tiny rows regardless of corpus size
    and the output is |dim| rows. No skew possible: dimension ids are
    uniform by construction. float32 widens to double BEFORE any
    accumulation (both engines agree exactly on the widening).
    """
    return (
        embeddings.select(F.posexplode(vec_col).alias("dim", "x"))
        .select(F.col("dim").cast("long").alias("dim"), F.col("x").cast("double").alias("x"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("x"), 6).alias("mean"),
            F.round(F.stddev_pop("x"), 6).alias("std"),
            F.round(F.min("x"), 6).alias("min_x"),
            F.round(F.max("x"), 6).alias("max_x"),
        )
        .orderBy("dim")
    )


def rrf_fuse(
    rankings: list[tuple[DataFrame, str, str]],
    k_const: int = 60,
    topk: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of multiple
    bounded retrieval result lists — the standard hybrid-search combiner
    (sparse BM25 + dense ANN) for RAG retrieval stacks.

    ``rankings`` is a list of (df, id_col, score_col) triples. Each df
    MUST already be a bounded top-k list (the output of bm25_search /
    brute_force_topk / ivf_search-style operators) — fusion is a
    k-row-scale post-process by contract, the heavy lifting lives in the
    candidate generators, exactly as in production hybrid stacks. Ranks
    are assigned per list by (score desc, id asc) — callers should
    pre-round engine-dependent float scores so rank assignment is
    reproducible cross-engine (bm25_search and brute_force_topk already
    emit rounded scores).

    Returns (id, rank_0..rank_{m-1}, rrf_score) — per-list ranks ride
    along (NULL where a list missed the id) so the fused record shows
    WHY each id surfaced; rrf_score = Σ_i 1/(k_const + rank_i) over the
    lists that contain the id, summed in fixed list order and rounded to
    6 digits so cross-engine double addition agrees.

    Plan shape: each input is ≤ k rows, so the rank windows sort k-row
    frames and the full-outer join chain touches ≤ m·k rows total —
    negligible beside candidate generation at any corpus size.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    from pyspark.sql import Window

    fused = None
    terms: list[F.Column] = []
    for i, (df, id_col, score_col) in enumerate(rankings):
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        r = df.select(
            F.col(id_col).alias("id"),
            F.row_number().over(w).cast("long").alias(f"rank_{i}"),
        )
        fused = r if fused is None else fused.join(r, on="id", how="full_outer")
        terms.append(
            F.when(
                F.col(f"rank_{i}").isNotNull(),
                F.lit(1.0) / (F.lit(float(k_const)) + F.col(f"rank_{i}")),
            ).otherwise(F.lit(0.0))
        )
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    return (
        fused.withColumn("rrf_score", F.round(score, 6))
        .orderBy(F.desc("rrf_score"), F.asc("id"))
        .limit(topk)
    )


def embedding_covariance(
    embeddings: DataFrame, vec_col: str = "embedding", use_kernel: bool = False
) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding dimensions —
    the PCA/whitening-prep companion to embedding_dim_stats (which gives
    the diagonal's inputs): cov(i, j) for every i ≤ j.

    ``use_kernel=True`` swaps the Catalyst per-pair fan-out for an Arrow
    GEMM partial (one ``X.T @ X`` per Arrow batch inside mapInPandas,
    emitting dim·(dim+1)/2 PARTIAL-SUM rows per batch) feeding the same
    final aggregation — the scale path when dim² × corpus fan-out
    dominates (measured probe in PLANS.md; the kernels.py policy:
    Catalyst twin stays the oracle-checked reference, parity pinned in
    tests/test_similarity.py).

    Shape: one narrow map fans each vector to its dim·(dim+1)/2 index
    pairs (i, j, x_i·x_j, x_i, x_j), then ONE hash aggregation reduces
    to dim·(dim+1)/2 rows — PARTIAL map-side, so the exchange carries
    O(partitions × dim²) pre-reduced rows regardless of corpus size. No
    join, no window. The dim² fan-out is in-task and streams through
    the aggregator; for dim ≳ 512 prefer the grouped-GEMM Arrow kernel
    (knn_graph's pattern) where the fan-out cost dominates — same
    output contract. Input vectors must share one width (the
    embedding-table contract throughout this module); NULL/empty rows
    are dropped on both paths.

    Determinism: float32 widens to double BEFORE any product (both
    engines agree exactly on widening and products); the final moments
    divide in one fixed expression and round — summation-order drift
    sits ~8 digits below the rounding cutoff at tested scales. Rounded
    covariances add +0.0 at the end: near-zero covariances carry a
    NOISE sign, so one engine can round to -0.0 and another to +0.0,
    and IEEE ``-0.0 + 0.0 = +0.0`` canonicalizes both (caught live at
    sf0.01 — dimension pairs with |cov| < 5e-7 flipped sign between
    Spark and DuckDB).
    """
    if use_kernel:
        import numpy as np
        import pandas as pd

        from ..functions.kernels import _stack_vectors

        def _gemm_partials(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X, mask = _stack_vectors(pdf[vec_col])
                X = X[mask]
                if X.size == 0:
                    continue
                d = X.shape[1]
                iu, ju = np.triu_indices(d)
                G = X.T @ X
                s = X.sum(axis=0)
                yield pd.DataFrame(
                    {
                        "i": iu.astype("int64"),
                        "j": ju.astype("int64"),
                        "n_part": np.full(len(iu), len(X), dtype="int64"),
                        "xy": G[iu, ju],
                        "xi": s[iu],
                        "xj": s[ju],
                    }
                )

        partials = embeddings.select(F.col(vec_col).alias(vec_col)).mapInPandas(
            _gemm_partials,
            schema="i long, j long, n_part long, xy double, xi double, xj double",
        )
        grouped = partials.groupBy("i", "j").agg(
            F.sum("n_part").alias("n"),
            F.sum("xy").alias("sxy"),
            F.sum("xi").alias("sxi"),
            F.sum("xj").alias("sxj"),
        )
    else:
        # NULL/empty vectors must not fan out: Spark's sequence(0, -1)
        # DEFAULTS TO STEP -1 and yields [0, -1] for an empty array —
        # phantom (0,0)/(0,-1)/(-1,-1) groups with NULL products that
        # inflate n and break the DuckDB twin (whose range() is empty).
        # The kernel path drops the same rows via _stack_vectors' mask.
        pairs = embeddings.select(
            F.col(vec_col).cast("array<double>").alias("v")
        ).filter(F.col("v").isNotNull() & (F.size("v") > 0)).select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(v)-1), i ->"
                    " transform(sequence(i, size(v)-1), j ->"
                    " struct(i as i, j as j, v[i]*v[j] as xy, v[i] as xi, v[j] as xj))))"
                )
            ).alias("p")
        ).select("p.*")
        grouped = pairs.groupBy("i", "j").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xy").alias("sxy"),
            F.sum("xi").alias("sxi"),
            F.sum("xj").alias("sxj"),
        )
    n = F.col("n").cast("double")
    return (
        grouped
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            F.col("n").cast("long").alias("n"),
            (
                F.round(
                    F.col("sxy") / n - (F.col("sxi") / n) * (F.col("sxj") / n), 6
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str = "relevance",
    round_digits: int = 6,
) -> DataFrame:
    """Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998) of
    a BOUNDED candidate list: greedily pick the candidate maximizing
    ``lam·relevance − (1−lam)·max_sim_to_already_selected`` — the
    diversity stage between retrieval and consumption (RAG context
    packing, dedup-aware search results).

    ``candidates`` must be a bounded top-k list (≤ a few hundred rows —
    the output of brute_force_topk/ivf_search + a vector join), same
    contract as rrf_fuse: the corpus-size work lives in the candidate
    generator, and MMR's inherently sequential greedy loop runs over ONE
    Arrow batch (single-group applyInPandas, numpy-vectorized inner
    argmax — no per-row Python, no driver collect).

    Returns (id, mmr_rank, relevance, max_sim_to_selected) for the k
    selected candidates; ``max_sim_to_selected`` is the diversity
    penalty AT SELECTION TIME (0 for the first pick) — in-row evidence
    that the selection traded relevance for diversity. Deterministic:
    relevance and pairwise sims round to ``round_digits`` before the
    argmax; ties break on the smaller id.
    """
    import numpy as np
    import pandas as pd

    out_schema = (
        f"{id_col} long, mmr_rank long, relevance double, max_sim_to_selected double"
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        # r10 ADVICE: fail EARLY and NAMED on the two shapes that would
        # otherwise surface as an opaque Arrow traceback from np.linalg —
        # an empty candidate batch and ragged/mixed-width vectors
        if len(pdf) == 0:
            return pd.DataFrame(
                columns=[id_col, "mmr_rank", "relevance", "max_sim_to_selected"]
            )
        widths = {len(v) for v in pdf[vec_col]}
        if len(widths) != 1:
            raise ValueError(
                f"mmr_rerank: candidate vectors have mixed widths "
                f"{sorted(widths)[:5]} — every {vec_col} must share one "
                f"dimension (the embedding-table contract)"
            )
        ids = pdf[id_col].to_numpy()
        rel = np.round(pdf[score_col].to_numpy(dtype=np.float64), round_digits)
        X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0.0] = 1.0
        Xn = X / norms[:, None]
        sims = np.round(Xn @ Xn.T, round_digits)
        n = len(ids)
        penalty = np.zeros(n)  # max sim to selected so far
        selected = np.zeros(n, dtype=bool)
        rows = []
        for rank in range(1, min(k, n) + 1):
            mmr = lam * rel - (1.0 - lam) * penalty
            mmr[selected] = -np.inf
            best = np.round(mmr, round_digits)
            m = best.max()
            # deterministic tie-break: smallest id among the argmax set
            cand = np.where(best == m)[0]
            i = cand[np.argmin(ids[cand])]
            rows.append((int(ids[i]), rank, float(rel[i]), float(penalty[i])))
            selected[i] = True
            penalty = np.maximum(penalty, sims[:, i])
        return pd.DataFrame(
            rows, columns=[id_col, "mmr_rank", "relevance", "max_sim_to_selected"]
        )

    one = candidates.select(id_col, vec_col, F.col(score_col).alias(score_col))
    return (
        one.groupBy(F.lit(0).alias("_g"))
        .applyInPandas(lambda key, pdf: _mmr(pdf), schema=out_schema)
        .orderBy("mmr_rank")
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the k most-similar corpus vectors with a DIFFERENT label — the
    negatives that actually teach a contrastive encoder something
    (random negatives are trivially separable; the hard ones sit near
    the anchor in embedding space).

    ``anchors`` must be a BOUNDED batch (same contract as rrf_fuse /
    ann_search_join's query side): it broadcasts against the corpus, so
    the join is one corpus scan with no corpus-side shuffle; per-anchor
    top-k is a window over (anchor, rounded cosine desc, id) — shuffle
    O(|anchors| × |corpus|) candidate rows. At production anchor counts,
    swap candidate generation for ivf_search_join (cell-pruned) and keep
    the same label-mismatch filter + top-k tail; this exact path is the
    oracle-checkable reference tier.

    Self-exclusion: an anchor never returns itself (id inequality), and
    same-label rows are filtered BEFORE the top-k, so the output is
    k true negatives per anchor (fewer only if the corpus runs out).

    NULL labels are excluded EXPLICITLY on both sides (r10 ADVICE): the
    mismatch predicate ``neg_label != anchor_label`` is NULL-rejecting
    in SQL anyway, so a NULL-labeled anchor silently returned zero
    negatives — indistinguishable from "corpus ran out". The filters
    below make the non-null-label contract visible in the plan; the
    DuckDB twin's semantics are identical either way.
    """
    a = anchors.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("anchor_vec"),
        F.col(label_col).alias("anchor_label"),
    )
    c = corpus.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("neg_id"),
        F.col(vec_col).alias("neg_vec"),
        F.col(label_col).alias("neg_label"),
    )
    pairs = (
        c.join(a, F.col("neg_id") != F.col("anchor_id"))
        .filter(F.col("neg_label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            "neg_id",
            "neg_label",
            F.round(
                cosine_similarity_col(F.col("anchor_vec"), F.col("neg_vec")),
                round_digits,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("neg_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("anchor_id", "rank")
    )


def sq8_error_audit(
    embeddings: DataFrame, vec_col: str = "embedding", round_digits: int = 6
) -> DataFrame:
    """Scalar-quantization (SQ8) audit: encode every vector to uint8 by
    per-dimension min/max scaling, decode back, and report per-dimension
    reconstruction error — the storage-path companion to PQ (SQ8 is the
    standard 4× embedding compression where PQ's codebook loss is too
    aggressive; FAISS's ScalarQuantizer is the public reference).

    Returns one row per dimension: (dim, q_levels, max_abs_err, mse) —
    the audit a pipeline runs BEFORE flipping storage to uint8, proving
    the reconstruction-error bound (max_abs_err ≤ span/510 + fp noise).

    Shape: per-dim min/max is ONE partial hash agg (embedding_dim_stats'
    plan) collapsed to a single broadcast row of min/max arrays; encode/
    decode/error is a narrow zip_with map; the error reduction is one
    partial hash agg to |dim| rows. Two linear passes, no window, no
    join wider than the 1-row broadcast.

    Determinism: quantization uses floor(x*255 + 0.5) — HALF-UP spelled
    in floor() so Spark and any SQL oracle agree even at exact .5
    boundaries (F.round / SQL round() differ in tie rules across
    engines); degenerate dims (max == min) encode to 0 and decode to
    min exactly.
    """
    v = F.col(vec_col).cast("array<double>")
    ex = embeddings.select(v.alias("v")).filter(
        F.col("v").isNotNull() & (F.size("v") > 0)
    )
    stats = (
        ex.select(F.posexplode("v").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "mn", "mx"))
            ).alias("s")
        )
        .select(
            F.transform("s", lambda t: t["mn"]).alias("mn"),
            F.transform("s", lambda t: t["mx"]).alias("mx"),
        )
    )
    # encode: q = floor((x-mn)/(mx-mn)*255 + 0.5); decode: mn + q*(mx-mn)/255
    err = (
        ex.crossJoin(stats)
        .select(
            F.expr(
                "transform(v, (x, i) -> CASE WHEN mx[i] = mn[i] THEN abs(x - mn[i]) "
                "ELSE abs(x - (mn[i] + floor((x - mn[i]) / (mx[i] - mn[i]) * 255.0 + 0.5) "
                "* (mx[i] - mn[i]) / 255.0)) END)"
            ).alias("e")
        )
        .select(F.posexplode("e").alias("dim", "ae"))
    )
    return (
        err.groupBy("dim")
        .agg(
            F.lit(256).cast("int").alias("q_levels"),
            F.round(F.max("ae"), round_digits).alias("max_abs_err"),
            (F.round(F.avg(F.col("ae") * F.col("ae")), 9) + F.lit(0.0)).alias("mse"),
        )
        .select(F.col("dim").cast("long").alias("dim"), "q_levels", "max_abs_err", "mse")
        .orderBy("dim")
    )
