"""Persist-with-cleanup convention for operator intermediates.

Several operators persist an intermediate that feeds multiple plan branches
(MinHash signatures, the SRP banded table, prefix-filter indexes, cleaning
tiers, ...). The persist is load-bearing — it is the difference between one
and N full passes over corpus-sized data — but a bare ``df.persist()`` has
no owner: in a long-lived session running many queries the cached blocks
accumulate and only LRU eviction bounds executor memory.

Convention: operators call :func:`tracked_persist` instead of
``DataFrame.persist``; anything that runs many queries against one session
(the driver entrypoint wraps every ``queries()`` callable, ``bench.py``,
notebook users) calls :func:`release_all` between queries. Unpersisting is
always correctness-safe — a released plan silently recomputes — so the
worst case of a missed release stays "slower", never "wrong".

Memo contract (:func:`memo`): build-once artifacts a session reuses across
DIFFERENT queries (a shared components table, the fixed query vector, a
shared index, the pandas UDFs) live in ONE in-process store keyed by the
Spark application id, so nothing outlives the process or leaks into another
session — a UDF object binds the SparkContext it first runs in — and a miss
under a new application drops the entries of the old one. A memo
is kept only when two or more queries read it — a value that only one
query reads can only hit on a repeat call of that query, which measures
the repeat, not the work. Memos outlive :func:`trim`/:func:`release_all`;
DataFrame values (bare or inside a tuple) are persisted on every return,
so a hit re-persists a table a trim evicted instead of silently
recomputing its lineage per action.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_MEMO: dict[tuple, Any] = {}


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` (default level) + registration for later release."""
    df = df.persist()
    _TRACKED.append(df)
    return df


def tracked_persist_shared(df: DataFrame) -> DataFrame:
    """``tracked_persist`` with an already-cached guard: if an identical
    plan is cached (``df.storageLevel`` consults the cache manager by plan
    equality), reuse it WITHOUT registering a second tracked handle.

    The guard matters for canonical shared tables (shingle/fingerprint/
    per-user reductions): a duplicate handle burns a trim() window slot,
    and when trim pops the older duplicate its unpersist drops the shared
    cache entry out from under the newer handle — the table silently
    recomputes inside the keep window.
    """
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df
    return tracked_persist(df)


def memo(spark, key: tuple, build: Callable[[], Any]) -> Any:
    """Return the value stored under ``(applicationId, *key)``, calling
    ``build()`` only on a miss. A miss first drops every entry of another
    application id: one process runs one SparkContext at a time, so those
    entries belong to a stopped application and would only keep its UDFs
    and DataFrames alive. Every DataFrame in the value (the value itself,
    or an element of a tuple) goes through :func:`tracked_persist_shared`
    — a no-op while it is still cached."""
    app = spark.sparkContext.applicationId
    k = (app, *key)
    if k not in _MEMO:
        for stale in [s for s in _MEMO if s[0] != app]:
            del _MEMO[stale]
        _MEMO[k] = build()
    v = _MEMO[k]
    if isinstance(v, DataFrame):
        return tracked_persist_shared(v)
    if isinstance(v, tuple):
        return tuple(tracked_persist_shared(x) if isinstance(x, DataFrame) else x for x in v)
    return v


def release_all() -> int:
    """Unpersist every tracked intermediate; returns how many were released.

    Safe to call at any time: consumers of an unpersisted DataFrame
    recompute its lineage instead of failing.
    """
    return trim(keep=0)


def trim(keep: int = 24) -> int:
    """Release all but the ``keep`` most recent tracked intermediates.

    The bounded-retention policy for many-query sessions: Spark substitutes
    a cached subplan into ANY later query whose logical plan contains it, so
    adjacent queries over the same corpus (tokenize → shingle → signature
    tiers) reuse each other's persisted work — releasing everything between
    queries forfeits that and measurably doubles a full registry sweep,
    while releasing nothing accumulates every intermediate and thrashes the
    block manager once the hot set exceeds storage memory. Keeping a small
    FIFO window preserves the reuse that actually happens (between nearby
    queries) with O(keep) worst-case residency. Unpersisting is always
    correctness-safe — a released plan silently recomputes.
    """
    n = 0
    while len(_TRACKED) > keep:
        df = _TRACKED.pop(0)
        try:
            df.unpersist()
            n += 1
        except Exception:
            # session already stopped — nothing left to release
            pass
    return n


def release(df: DataFrame) -> bool:
    """Unpersist ONE tracked intermediate and drop its handle (identity
    match). For operators that own short-lived intermediates with a
    deterministic end-of-life (e.g. pagerank's degree/vertex tables):
    leaving the dead handle in ``_TRACKED`` burns a ``trim()`` window
    slot and evicts a genuinely live neighbor's cache early."""
    for i, d in enumerate(_TRACKED):
        if d is df:
            _TRACKED.pop(i)
            try:
                df.unpersist()
            except Exception:
                pass
            return True
    return False


def free_local_checkpoint(df: DataFrame | None) -> bool:
    """Free the executor-storage blocks behind a SUPERSEDED
    ``localCheckpoint()`` tier (r10 ADVICE: pagerank accumulated K+1
    checkpointed score tiers until GC). ``DataFrame.unpersist()`` cannot
    reach them — localCheckpoint caches the RDD directly, outside the
    CacheManager — so this walks the analyzed plan (a ``LogicalRDD``
    after checkpointing) to the underlying RDD and unpersists it.

    DESTRUCTIVE by design: a localCheckpointed frame has no lineage to
    recompute from, so the freed frame must never be read again — only
    call on a tier the next tier has already replaced (localCheckpoint
    is eager, so the successor is materialized before the call). Best
    effort: any internals change degrades to the old behavior (blocks
    reclaimed by the ContextCleaner on GC), never an error.
    """
    if df is None:
        return False
    try:
        plan = df._jdf.queryExecution().analyzed()
        if not plan.getClass().getName().endswith("LogicalRDD"):
            return False
        plan.rdd().unpersist(False)
        return True
    except Exception:
        return False
