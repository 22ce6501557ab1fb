"""Cache and checkpoint lifecycle — the one module that decides how long
every engine-made cache and checkpoint lives. Two lifetimes, one
release path each:

- **Query-scoped persists** (:func:`scoped_persist`). The round-12
  optimizations persisted sf-proportional intermediates that several
  consumers of ONE query share (the NB token stream, the label-
  propagation closure, the HITS half-steps, the BM25 TF table, the PMI
  uni/bigram counts, ...). Those frames are consumed by the *returned*
  lazy DataFrame, so the builder itself can never unpersist them — the
  cache must live until the caller's action has run. Builders register
  each such persist here; whoever drives the session — the bench
  between timed reps, a pipeline between queries, a test — calls
  :func:`release_scoped_caches` after the action(s) that consumed the
  query's result. Persist semantics are untouched (same lazy
  MEMORY_AND_DISK cache, same plan-match substitution); the registry
  only adds the release path. One process-wide list behind one lock:
  builders register from several driver threads at once (``run_etl``
  builds its three pipelines concurrently, and a threaded server such
  as the dashboard's builds its queries on per-request handler
  threads), so append, drain and count each hold the lock.
  Unpersisting happens outside it.
  :func:`scoped_local_checkpoint` registers an eager local checkpoint
  the same way, for a builder whose returned frame reads it: the same
  release unpersists its checkpoint RDD (which, unlike a persist, cannot
  be recomputed if an action still reads it).
- **Block-scoped local checkpoints** (:func:`released_local_checkpoint`).
  A rewrite-in-place writer checkpoints, writes, and releases exactly
  its own checkpoint RDD when the block exits — caller-exact, so
  concurrent callers (two streaming ``foreachBatch`` sinks) never
  release each other's checkpoint.

:func:`stats_severed_local_checkpoint` makes the checkpoints iterative
trainers RETURN or chain; their caller owns the frame, and the
ContextCleaner frees the RDD once the frame is garbage-collected.

The two private crossings the checkpoint helpers use
(``internals.checkpoint_rdd``, ``internals.severed_from_checkpoint``)
raise on failure and are probed by name in tests/test_internals.py;
there is no degraded path here.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from assignment_etl_spark import internals

# Persisted frames and checkpoint JavaRDDs: both release by ``unpersist(blocking)``.
_SCOPED: list = []
_SCOPED_LOCK = threading.Lock()


def scoped_persist(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """``df.persist(level)`` with registered ownership: the returned frame
    is cached exactly as before, and additionally recorded so a later
    :func:`release_scoped_caches` unpersists it. Always returns ``df``
    (persist mutates the plan's cache entry, not the object)."""
    if level is None:
        df.persist()
    else:
        df.persist(level)
    with _SCOPED_LOCK:
        _SCOPED.append(df)
    return df


def scoped_local_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` with registered ownership: the
    eager barrier and the checkpointed plan (its output partitioning
    included) are those of a bare checkpoint, and :func:`release_scoped_caches`
    unpersists exactly the RDD backing it (``internals.checkpoint_rdd``).
    A bare checkpoint outside the cache manager is freed only when the
    ContextCleaner reaps its frame; a long-lived session keeps it. Release
    only after the last action on the returned frame: unlike a persist,
    the checkpoint cannot be recomputed."""
    ck = df.localCheckpoint(eager=True)
    jrdd = internals.checkpoint_rdd(ck)
    with _SCOPED_LOCK:
        _SCOPED.append(jrdd)
    return ck


def release_scoped_caches(blocking: bool = False) -> int:
    """Unpersist every frame and checkpoint registered since the last
    release; returns how many were released. The intended call sites are
    between queries / bench reps, after the consuming action has
    finished. Unpersisting a persisted frame mid-consumption only degrades
    to recompute; a checkpoint has no lineage to recompute from, so an
    action still reading one fails."""
    with _SCOPED_LOCK:
        drained = _SCOPED[::-1]
        _SCOPED.clear()
    n = 0
    for df in drained:
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:  # noqa: BLE001 — a dead session must not mask the drain
            pass
    return n


def scoped_cache_count() -> int:
    """How many query-scoped persists and checkpoints are currently
    registered (test / probe hook)."""
    with _SCOPED_LOCK:
        return len(_SCOPED)


@contextlib.contextmanager
def released_local_checkpoint(df: DataFrame):
    """``localCheckpoint(eager=True)`` with deterministic release.

    Rewrite-in-place (upsert / targeted delete / streaming state
    rewrites) must sever lineage from the files it is about to replace —
    you cannot overwrite a parquet dir a lazy plan still reads. But a
    localCheckpoint's RDD lives OUTSIDE the CacheManager:
    ``spark.catalog.clearCache()`` cannot free it and the ContextCleaner
    only reaps it on a driver GC, so a steady-state ingest (one upsert
    per batch) would leak one checkpoint RDD per BATCH. Scope the
    checkpoint: yield the severed frame for the write, then unpersist
    EXACTLY the RDD backing it (``internals.checkpoint_rdd``; the
    checkpoint's analyzed root is a LogicalRDD by construction). No
    global persistent-RDD id diff: two concurrent callers in one session
    would race, and caller A's release could unpersist caller B's
    in-flight checkpoint — unrecoverable, since localCheckpoint severs
    lineage."""
    ck = df.localCheckpoint(eager=True)
    jrdd = internals.checkpoint_rdd(ck)
    try:
        yield ck
    finally:
        jrdd.unpersist(False)


def stats_severed_local_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` that severs the PRESERVED plan
    statistics along with the lineage — the checkpoint primitive for
    ITERATIVE dataflows whose stages chain checkpoints of joins.

    Spark 4's LogicalRDD keeps the source plan's sizeInBytes estimate.
    Useful for one checkpoint of a scan; catastrophic when stages
    chain: a join's default estimate is the PRODUCT of its children's,
    so each stage's preserved number inherits the previous stages'
    products and the DIGITS of sizeInBytes grow multiplicatively with
    stage count. Every planning-time stats consumer —
    ``JoinSelection.canBroadcastBySize``, ``InjectRuntimeFilter`` —
    then does arbitrary-precision BigInteger arithmetic on the driver:
    measured (r11, jstack-profiled): ``viterbi_encode`` over a
    150-word table spent ~19 MINUTES of single-threaded driver CPU in
    ``BigInteger.multiplyToomCook3`` before launching a single task,
    and the cost is data-independent — a cluster pays it too.

    Rebuilding the frame over the SAME materialized checkpoint RDD
    (``internals.severed_from_checkpoint``) drops the origin stats to
    the unknown sentinel (Long.MaxValue), which resets digit growth at
    every stage — "unknown" is strictly better than "astronomically
    wrong" here: these post-checkpoint frames are never auto-broadcast
    candidates (the trainers broadcast their small sides explicitly)
    and AQE re-plans from ACTUAL runtime sizes regardless."""
    return internals.severed_from_checkpoint(df.localCheckpoint(eager=True))
