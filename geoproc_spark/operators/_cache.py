"""Bounded per-operator persist registry.

Operators that persist an intermediate (LSH bands, cell-keyed pages) return
lazy DataFrames whose plans reference the cached data, so they cannot
unpersist before the caller's action. Left alone, every call in a
long-lived session pins another copy in executor storage (ADVICE r01).
`swap_cache` bounds that to ONE cached lineage per operator key: each call
persists its own plan and unpersists the previous call's, unless the two
plans have the same semantics. Spark keeps one cache entry per semantic
plan, so `persist()` on an equal plan returns the entry already there, and
unpersisting the previous holder would drop the new call's cache with it.
Keeping the shared entry cannot serve stale data: Spark's CacheManager
already answers every equal plan from it, and table snapshots get a new
path (`data/snap-<n>/`) per write, so a changed table is a different plan.

Thread safety (ADVICE r02): bench.py and real pipelines run jobs on
threads, so the registry swap is guarded by a lock — without it two
concurrent callers could both persist and leak one lineage, or one could
unpersist the other's cache mid-swap. Note the semantic contract is
unchanged and caller-visible: interleaved calls under the SAME key with
different inputs still evict each other (results stay correct — eviction
only drops the cache, never the data); callers that need two live caches
use distinct keys.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LAST: dict[str, DataFrame] = {}
_LOCK = threading.Lock()


def swap_cache(key: str, df: DataFrame) -> DataFrame:
    cached = df.persist()
    with _LOCK:
        prev = _LAST.get(key)
        _LAST[key] = cached
    if prev is not None and prev is not cached:
        try:
            if not prev.sameSemantics(cached):
                prev.unpersist()
        except Exception:
            pass  # session may be gone; nothing to release
    return cached


def release(key: str) -> None:
    with _LOCK:
        prev = _LAST.pop(key, None)
    if prev is not None:
        prev.unpersist()


# ------------------------------------------------------- checkpoint registry
_CKPT: dict[str, DataFrame] = {}


def release_checkpoint_df(df: DataFrame) -> None:
    """Drop the storage blocks behind a localCheckpointed DataFrame.

    localCheckpoint truncates lineage to an RDD leaf, so unlike a cache
    eviction this is TERMINAL: the blocks cannot be recomputed and any
    later action on a plan referencing them fails. Only call it on
    checkpoints that nothing can read anymore (superseded loop batches,
    or a previous invocation's internals under the swap contract below).
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
    except Exception:
        pass  # not a LogicalRDD leaf / session gone; nothing to release


def swap_checkpoint(key: str, df: DataFrame) -> DataFrame:
    """localCheckpoint `df` (eager) and release the PREVIOUS checkpoint
    registered under `key` — the checkpoint analog of swap_cache.

    Why: checkpoint blocks are reclaimed only when the ContextCleaner
    GCs the last JVM reference, which from Python waits on the py4j
    handle being collected — profiled across bench repeats, cached-RDD
    count and bytes crept up monotonically (156 -> 330 MB over 4
    dedup_components reps) until a forced GC reclaimed them; the
    post-GC rep was the fastest of the session. Swapping bounds the
    footprint to ONE live checkpoint per key deterministically.

    Contract (stricter than swap_cache): the previous checkpoint's
    blocks are GONE after the swap, so an operator invocation's result
    must be fully consumed before the operator runs again under the same
    key — the same single-copy bound swap_cache documents, but eviction
    here is terminal rather than a recompute."""
    return adopt_checkpoint(key, df.localCheckpoint())


def adopt_checkpoint(key: str, ck: DataFrame) -> DataFrame:
    """Register an ALREADY-checkpointed DataFrame under `key`, releasing
    the previous holder (see swap_checkpoint for the contract)."""
    with _LOCK:
        prev = _CKPT.get(key)
        _CKPT[key] = ck
    if prev is not None and prev is not ck:
        release_checkpoint_df(prev)
    return ck
