"""Arrow-vectorized kernels for per-row signature math.

The winnowing/SRP signature and cosine computations are small dense
integer/float kernels over short arrays. The pure-Catalyst higher-order
function (HOF) twins (fingerprint.winnow_col, similarity.signature_col)
are correct and oracle-checkable, but HOF lambdas evaluate interpreted
(outside whole-stage codegen) at ~1 ms/doc — measured 5-10 s per 5k docs
at sf0.1. These kernels compute the SAME values through
``@pandas_udf`` (Arrow batches, numpy vectorization) at ~10-100× the
throughput — the documented fast path when built-ins can't express the
computation efficiently.

Parity contract (unit-tested, tests/test_kernels.py):

- ``winnow_from_norm``     == fingerprint.winnow_col  (exact: Horner mod-M
  rolling hashes and window minima are integer math; only the set ORDER
  differs — Catalyst keeps first-occurrence, numpy sorts — callers explode)
- ``srp_buckets``          == similarity.signature_col per table (float dot
  signs; identical except dots within float rounding of 0 — measure-zero on
  real embeddings)

Scale notes: each kernel is per-row (no shuffle, partition-preserving); the
Arrow boundary transfers one small array per row. Token/char normalization
and xxhash64 hashing stay JVM-side so Python only sees fixed-width numeric
arrays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from ..caching import memo
from .fingerprint import HASH_BASE, HASH_MOD

# Every kernel is built on call, never at module scope: pandas_udf parses
# its DDL return type against the active session, and a UDF binds the
# SparkContext it first runs in, so one object reused by a later session
# reports every task to the stopped context's accumulator server.


def _stack_vectors(series: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(matrix, valid_mask) from an Arrow batch of array columns.

    Fast path: one ``np.vstack`` when every row is a well-formed equal-length
    array (the overwhelmingly common case — no per-row Python work beyond
    what vstack itself does). Null or ragged rows — which made the raw
    vstack kernels die with an opaque traceback while their Catalyst twins
    were null-tolerant — fall back to a guarded fill: invalid rows become
    zero rows and are reported in the mask so callers can pick the
    null-semantics their Catalyst twin has (zero-norm -> score 0.0, etc.).
    """
    vals = series.to_numpy()
    # None rows must NOT take the fast path: vstack+astype silently turns
    # them into NaN rows with a TRUE mask, which both corrupts the
    # null-semantics contract and defeats the dim guard on all-null batches
    if not any(v is None for v in vals):
        try:
            M = np.vstack(vals).astype(np.float64)
            if M.ndim == 2:
                return M, np.ones(len(vals), dtype=bool)
        except (ValueError, TypeError):
            pass
    mask = np.zeros(len(vals), dtype=bool)
    # canonical dim = the MODAL row length, not the first non-empty one — a
    # single malformed leading row must not invalidate every well-formed
    # row in the batch
    lengths = [len(v) for v in vals if v is not None and len(v) > 0]
    dim = max(set(lengths), key=lengths.count) if lengths else 0
    M = np.zeros((len(vals), max(dim, 1)), dtype=np.float64)
    for i, v in enumerate(vals):
        if v is None:
            continue
        a = np.asarray(v, dtype=np.float64)
        if a.shape == (M.shape[1],):
            M[i] = a
            mask[i] = True
    return M, mask


def _dim_guard(mask: np.ndarray, got: int, expected: int, what: str) -> None:
    """Degenerate batches (no valid rows — _stack_vectors collapsed to a
    placeholder width) may fall back to the kernel's null semantics; a batch
    CONTAINING valid rows at the wrong width means the caller configured the
    wrong dim / query vector / codebook and must fail loudly — silently
    zero-filling would score every row 0 (or bucket every row together,
    degrading LSH to an all-pairs join) with no error anywhere."""
    if mask.any():
        raise ValueError(
            f"{what}: batch rows have dim {got}, expected {expected} — "
            "check the configured dim/query/codebook"
        )


def _winnow_one(s: str, k: int, window: int, pow_mods: np.ndarray) -> np.ndarray:
    codes = np.frombuffer(s.encode("ascii"), dtype=np.uint8).astype(np.int64)
    n = codes.size
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n < k:
        return np.empty(0, dtype=np.int64)
    grams = np.lib.stride_tricks.sliding_window_view(codes, k)
    # Each term <= 122 * (M-1) ~ 1.2e11; k-term sum <= ~1e12 — safe in int64,
    # and congruent mod M to the sequential Horner fold Catalyst/DuckDB run.
    h = (grams * pow_mods).sum(axis=1) % HASH_MOD
    if h.size >= window:
        mins = np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1)
    else:
        mins = h.min(keepdims=True)
    return np.unique(mins)


def make_winnow_udf(k: int = 8, window: int = 8):
    """Winnowing fingerprint UDF (normalized ascii text -> array<bigint>).

    Same values as ``fingerprint.winnow_col(kgram_hashes_col(...))``; input
    must already be ``fingerprint._normalize``-ed (JVM-side lower + strip),
    which guarantees pure [a-z0-9] ascii.

    Memoized per (application, k, window) through ``caching.memo``: beyond
    the repeated-pickling cost, the shared ``fingerprint_table`` relies on
    repeat calls building byte-identical plans for cache substitution —
    returning the SAME udf object within a session makes that identity
    structural instead of depending on cloudpickle determinism.
    """

    def build():
        pow_mods = np.array(
            [pow(HASH_BASE, k - 1 - j, HASH_MOD) for j in range(k)], dtype=np.int64
        )

        @pandas_udf("array<long>")
        def winnow_from_norm(norm: pd.Series) -> pd.Series:
            return norm.map(lambda s: _winnow_one(s or "", k, window, pow_mods))

        return winnow_from_norm

    return memo(SparkSession.active(), ("winnow_udf", k, window), build)


def pair_cosine_udf():
    """Cosine similarity of two array<float> columns, Arrow-vectorized.

    For candidate-pair VERIFY stages (tens of thousands of pairs × dim≈64):
    one stacked (n, dim) matmul-style reduction per Arrow batch vs an
    interpreted zip_with+aggregate per row (~0.2 ms/pair — measured to
    dominate cosine_near_duplicate_pairs). Zero-norm inputs score 0.0,
    matching vectors.cosine_similarity_col. Memoized per application like
    ``make_winnow_udf``.
    """
    return memo(SparkSession.active(), ("pair_cosine_udf",), _pair_cosine)


def _pair_cosine():
    @pandas_udf("double")
    def pair_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        ma, va = _stack_vectors(a)
        mb, vb = _stack_vectors(b)
        if ma.shape[1] != mb.shape[1]:
            # only legitimate when one side is all-null (degenerated width)
            _dim_guard(va & vb, ma.shape[1], mb.shape[1], "pair_cosine")
            return pd.Series(np.zeros(len(a), dtype=np.float64))
        dots = np.einsum("ij,ij->i", ma, mb)
        denom = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        valid = va & vb & (denom > 0)
        out = np.where(valid, dots / np.where(denom > 0, denom, 1.0), 0.0)
        return pd.Series(out)

    return pair_cosine


def make_query_cosine_udf(query_vec: np.ndarray):
    """Cosine against ONE fixed query vector (array<float> -> double).

    The rerank step of every top-k path: one (batch × dim) @ dim multiply
    per Arrow batch instead of an interpreted 64-term fold per row
    (measured ~74 µs/row — the dominant cost of brute-force/LSH/IVF rerank
    at 100k vectors). Zero-norm rows score 0.0 like
    vectors.cosine_similarity_col.
    """
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)

    @pandas_udf("double")
    def query_cosine(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        M, valid = _stack_vectors(emb)
        if M.shape[1] != q.size:
            _dim_guard(valid, M.shape[1], q.size, "query_cosine")
            return pd.Series(np.zeros(len(emb), dtype=np.float64))
        denom = np.linalg.norm(M, axis=1) * qn
        dots = M @ q
        ok = valid & (denom > 0)
        return pd.Series(np.where(ok, dots / np.where(denom > 0, denom, 1.0), 0.0))

    return query_cosine


def make_ivf_assign_udf(centroids: np.ndarray):
    """Nearest-centroid assignment (array<float> -> int cluster id).

    Rows are L2-normalized; argmin ||v-c||² == argmax (v·c - ||c||²/2) for
    unit v — the centroid half-norms matter because Lloyd means of unit
    vectors are NOT unit. One (batch × dim) @ (dim × k) multiply per batch;
    the k×dim centroid matrix rides in the closure (broadcast by value).
    """
    C = np.asarray(centroids, dtype=np.float64)
    half_sq = 0.5 * (C**2).sum(axis=1)

    @pandas_udf("int")
    def assign_cluster(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=np.int32)
        M, valid = _stack_vectors(emb)  # null rows -> zero vector -> deterministic
        if M.shape[1] != C.shape[1]:
            _dim_guard(valid, M.shape[1], C.shape[1], "ivf_assign")
            return pd.Series(np.zeros(len(emb), dtype=np.int32))
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.Series((M @ C.T - half_sq).argmax(axis=1).astype(np.int32))

    return assign_cluster


def make_ivf_probes_udf(centroids: np.ndarray, nprobe: int):
    """Top-``nprobe`` centroid ids per vector (array<float> -> array<int>),
    the query-side counterpart of ``make_ivf_assign_udf`` for batch search:
    each query probes its nprobe most-cosine-similar cells. Same normalized
    matmul + half-norm correction; one argpartition per batch instead of
    per row."""
    C = np.asarray(centroids, dtype=np.float64)
    half_sq = 0.5 * (C**2).sum(axis=1)
    p = min(nprobe, C.shape[0])

    @pandas_udf("array<int>")
    def probe_cells(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        M, valid = _stack_vectors(emb)
        if M.shape[1] != C.shape[1]:
            _dim_guard(valid, M.shape[1], C.shape[1], "ivf_probes")
            return pd.Series([[0]] * len(emb))
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        scores = M @ C.T - half_sq
        top = np.argpartition(-scores, p - 1, axis=1)[:, :p].astype(np.int32)
        return pd.Series(list(top))

    return probe_cells


def make_srp_buckets_udf(planes_per_table: list[np.ndarray]):
    """Signed-random-projection bucket ids for ALL hash tables in one matmul.

    Input: embedding array<float>; output array<int>, one bucket id per
    table (bit p of table t = sign(v . plane_{t,p})). One (batch x dim) @
    (dim x tables*planes) multiply per Arrow batch replaces tables*planes
    interpreted dot-product aggregates per row.
    """
    all_planes = np.vstack(planes_per_table).astype(np.float64)  # (T*P, dim)
    num_tables = len(planes_per_table)
    planes_per = all_planes.shape[0] // num_tables
    bit_weights = (1 << np.arange(planes_per, dtype=np.int64))

    @pandas_udf("array<int>")
    def srp_buckets(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        mat, valid = _stack_vectors(emb)  # null rows -> zero vector -> bucket 0
        if mat.shape[1] != all_planes.shape[1]:
            _dim_guard(valid, mat.shape[1], all_planes.shape[1], "srp_buckets")
            mat = np.zeros((len(emb), all_planes.shape[1]))
        signs = (mat @ all_planes.T) > 0  # (n, T*P)
        signs = signs.reshape(len(mat), num_tables, planes_per)
        buckets = (signs * bit_weights).sum(axis=2).astype(np.int32)  # (n, T)
        return pd.Series(list(buckets))

    return srp_buckets


def make_pq_encode_udf(codebooks: np.ndarray):
    """PQ encoder (array<float> -> array<int> of m subspace codes).

    ``codebooks``: (m, k, dsub) tensor in the closure. Rows L2-normalize,
    then each subvector takes its argmin-distance centroid via the same
    half-norm trick as the IVF assigner — m small matmuls per batch.
    """
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = cb.shape
    half = 0.5 * (cb**2).sum(axis=2)  # (m, k)

    @pandas_udf("array<int>")
    def pq_encode(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        M, valid = _stack_vectors(emb)  # null rows -> zero vector -> deterministic codes
        if M.shape[1] != m * dsub:
            _dim_guard(valid, M.shape[1], m * dsub, "pq_encode")
            M = np.zeros((len(emb), m * dsub))
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(M), m), dtype=np.int32)
        for j in range(m):
            sub = M[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = (sub @ cb[j].T - half[j]).argmax(1)
        return pd.Series(list(codes))

    return pq_encode


def make_adc_udf(dist_table: np.ndarray):
    """PQ asymmetric-distance scorer (array<int> codes -> double).

    ``dist_table``: the query's (m, k) per-subspace squared-L2 table. A
    row's distance is m table lookups summed — one fancy-index gather per
    batch, no float math against the original vectors.
    """
    T = np.asarray(dist_table, dtype=np.float64)
    m = T.shape[0]
    rows = np.arange(m)

    @pandas_udf("double")
    def adc(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        C, valid = _stack_vectors(codes)  # (n, m)
        if C.shape[1] != m:
            _dim_guard(valid, C.shape[1], m, "pq_adc")
            return pd.Series(np.full(len(codes), np.inf))
        dists = T[rows, C.astype(np.int64)].sum(axis=1)
        # null/ragged code rows can never win the top-k
        return pd.Series(np.where(valid, dists, np.inf))

    return adc
