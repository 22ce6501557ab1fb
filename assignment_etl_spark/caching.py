"""Query-scoped persist registry — the release owner for every cache a
query builder creates for its own multi-consumer intermediates.

The round-12 optimizations persisted sf-proportional intermediates that
several consumers of ONE query share (the NB token stream, the label-
propagation closure, the HITS half-steps, the BM25 TF table, the PMI
uni/bigram counts, ...). Those frames are consumed by the *returned*
lazy DataFrame, so the builder itself can never unpersist them — the
cache must live until the caller's action has run. That made the caches
ownerless: nothing in the engine released them, and a long-lived session
accumulated one entry per query call forever (r12 VERDICT "What's wrong"
#1).

This module is the owner. Builders register each query-scoped persist
via :func:`scoped_persist`; whoever drives the session — the bench
between timed reps, a pipeline between queries, a test — calls
:func:`release_scoped_caches` after the action(s) that consumed the
query's result. Persist semantics are untouched (same lazy
MEMORY_AND_DISK cache, same plan-match substitution); the registry only
adds the release path.

Deliberately NOT thread-safe fanciness: a plain list, append on persist,
drain on release — the engine's query builders run on the driver thread.
Frames persisted through other means (the probe's own persists, io/store
checkpoint RDDs, streaming state) are out of scope and unaffected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_SCOPED: list[DataFrame] = []


def scoped_persist(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """``df.persist(level)`` with registered ownership: the returned frame
    is cached exactly as before, and additionally recorded so a later
    :func:`release_scoped_caches` unpersists it. Always returns ``df``
    (persist mutates the plan's cache entry, not the object)."""
    if level is None:
        df.persist()
    else:
        df.persist(level)
    _SCOPED.append(df)
    return df


def release_scoped_caches(blocking: bool = False) -> int:
    """Unpersist every frame registered since the last release; returns
    how many were released. Safe to call at any time — unpersisting a
    frame that is mid-consumption only degrades to recompute, never
    breaks correctness — but the intended call sites are between
    queries / bench reps, after the consuming action has finished."""
    n = 0
    while _SCOPED:
        df = _SCOPED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:  # noqa: BLE001 — a dead session must not mask the drain
            pass
    return n


def scoped_cache_count() -> int:
    """How many query-scoped persists are currently registered (test /
    probe hook)."""
    return len(_SCOPED)
