"""Construction-time state of the engine's operators, in one place.

Operators build lazy Spark plans, but some of what they do while building
outlives the call: cached intermediates, eager counts running on a daemon
thread, and observed metrics that arrive asynchronously. This module owns
that state, so ``operators/`` and ``streaming/`` hold none, and no
operator writes a session conf:

- two bounded FIFO cache pools: :func:`persist` and :func:`release`;
- async eager counts: :func:`eager_count`, :func:`settle`, and
  :func:`settle_on_exit`, which settles them on every exit of an operator;
- one bounded wait on an ``Observation``: :func:`observed`, and the
  observe-or-aggregate pattern built on it: :func:`run_observed`.

Per-application state is keyed by ``applicationId``, because a
``foreachBatch`` micro-batch runs on a cloned session of the same
application.
"""

from __future__ import annotations

import contextlib
import logging
import threading

from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame

_LOG = logging.getLogger(__name__)

# Pool caps. Evicted frames stay correct (they recompute on their next
# action); a cap only bounds what a long-lived session that never releases
# keeps cached (ADVICE r05), and is set so that no call evicts a frame it
# still reads. collapse: the exact collapse caches its group and member
# maps, minhash_lsh_pairs its signed frame (unless the caller passes one)
# and its banded rows, simhash its banded frame. The most one call holds
# is 4: a collapse-backed LSH call, a keep-list over an LSH pair source,
# or decontaminate_canonical_lsh (the collapse's two maps and one banded
# frame per pass). corpus: decontaminate_canonical caches one frame per
# call, decontaminate_canonical_lsh three (reps, the signed frame, the
# pass-2 corpus rows), kmeans_centroids one and kmeans_convergence one per
# iteration, so 6 keeps the two most recent decontaminations warm and past
# 6 iterations kmeans_convergence evicts its earliest.
POOL_CAPS = {"collapse": 4, "corpus": 6}
_POOLS: dict[str, list[DataFrame]] = {name: [] for name in POOL_CAPS}

# (thread, box) per in-flight async count; the box receives any exception
# the count raised, re-raised at settle so failures are never swallowed.
_PENDING: list[tuple[threading.Thread, list]] = []

# Bound on one wait for an observed metric, and the applications in which
# a wait already timed out: their later waits return None at once.
OBSERVE_WAIT_S = 30
_NO_OBSERVATION: set[str | None] = set()


def _on_daemon_thread(fn, name: str) -> tuple[threading.Thread, list]:
    """Start ``fn`` on a daemon thread; the returned box receives its
    result, or the exception it raised."""
    box: list = []

    def _run() -> None:
        try:
            box.append(fn())
        except BaseException as exc:  # handed to the reader of the box
            box.append(exc)

    t = threading.Thread(target=_run, name=name, daemon=True)
    t.start()
    return t, box


def _spill_level(cached_bytes: int, max_heap_bytes: int):
    """Pick the storage level for the NEXT pooled cache: once the
    already-cached bytes crowd the unified storage pool (~30% of heap at
    the default spark.memory.fraction), further caches go straight to
    DISK_ONLY instead of competing with 32 concurrent column builders for
    storage memory (VERDICT r10 #5: at the 2700x octave the
    corpus-signature cache build OOM'd a 32g local driver — local mode
    concentrates every task's builder plus the whole storage pool in one
    JVM; on a real cluster the same cache is partitioned across
    executors, so this guard only ever bites in local mode or on a
    genuinely undersized executor)."""
    if cached_bytes > 0.30 * max_heap_bytes:
        _LOG.warning(
            "cache pool: %.1f GiB already cached vs %.1f GiB heap — "
            "persisting the next pooled frame DISK_ONLY to keep the "
            "storage pool from evicting/OOMing mid-build",
            cached_bytes / 2**30,
            max_heap_bytes / 2**30,
        )
        return StorageLevel.DISK_ONLY
    return StorageLevel.MEMORY_AND_DISK


def _storage_level(frame: DataFrame):
    """:func:`_spill_level` over the session's live storage telemetry;
    MEMORY_AND_DISK when the telemetry is unavailable (best-effort, never
    fatal)."""
    try:
        sc = frame.sparkSession.sparkContext
        # memSize + diskSize (ADVICE r11): memSize alone counts only blocks
        # currently RESIDENT in memory, so once earlier caches spill the
        # probe re-armed MEMORY_AND_DISK in exactly the saturated regime it
        # targets. Disk-resident bytes overcount storage-POOL pressure, but
        # the guard is local-mode-only and the conservative direction
        # (going DISK_ONLY a frame early) costs a re-read, not an OOM.
        cached = sum(
            i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()
        )
        heap = int(sc._jvm.java.lang.Runtime.getRuntime().maxMemory())
    except Exception:
        return StorageLevel.MEMORY_AND_DISK
    return _spill_level(cached, heap)


def _unpersist(frame: DataFrame) -> bool:
    try:
        frame.unpersist(False)
    except Exception:  # e.g. its session is gone: nothing left to free
        return False
    return True


def _same_plan(a: DataFrame, b: DataFrame) -> bool:
    try:
        return a.sameSemantics(b)
    except Exception:  # e.g. one session is gone: it holds no cache
        return False


def _drop(frame: DataFrame) -> bool:
    """Unpersist a frame that has left its pool, unless a frame still
    pooled has the same plan. Spark keeps one cache per plan, so that
    unpersist would free the other frame's cache: a frame
    ``catalog.clearCache`` already freed stays in its pool, and a later
    call may cache its plan again (two queries signing the same
    documents with the same label)."""
    if any(_same_plan(frame, f) for p in _POOLS.values() for f in p):
        return True
    return _unpersist(frame)


def persist(pool: str, frame: DataFrame, eager: bool = False) -> DataFrame:
    """Persist ``frame`` into ``pool`` ("collapse" or "corpus"), evicting
    oldest-first BEFORE appending so the live set never exceeds the pool's
    cap, not even while a caller that caches several frames runs (ADVICE
    r08). ``eager`` counts the frame at once: a MATERIALIZED
    InMemoryRelation reports measured (not Generate-collapsed) stats, so
    static broadcast decisions over it are size-sound at every SF (the r09
    BroadcastOverGenerate class). Leave it off when a later job
    materializes this frame transitively — one job, several measured
    caches."""
    cached = _POOLS[pool]
    while len(cached) >= POOL_CAPS[pool]:
        _drop(cached.pop(0))
    out = frame.persist(_storage_level(frame))
    if eager:
        out.count()
    cached.append(out)
    return out


def release(pool: str) -> int:
    """Unpersist every frame in ``pool`` and empty it; returns how many
    were released. Release pooled frames here, never by a bare
    ``unpersist``: a dead entry left in the pool shrinks its cap for the
    rest of the session and is unpersisted again on eviction (ADVICE
    r11)."""
    cached, _POOLS[pool] = _POOLS[pool], []
    return sum(_drop(c) for c in cached)


def eager_count(frame: DataFrame, overlap: bool) -> None:
    """Materialize a persisted frame via ``count()`` — inline, or on a
    daemon thread when ``overlap``. Async counts MUST be settled via
    :func:`settle` before the constructed pipeline is returned to the
    caller, so downstream actions always plan against fully-measured
    caches — the overlap window is the pipeline's own construction-time
    jobs (audit collects, CC rounds)."""
    if overlap:
        _PENDING.append(_on_daemon_thread(frame.count, "graft-async-count"))
    else:
        frame.count()


def settle() -> None:
    """Join every in-flight async count, re-raising the first failure."""
    first_exc = None
    while _PENDING:
        t, box = _PENDING.pop()
        t.join()
        if first_exc is None and isinstance(box[0], BaseException):
            first_exc = box[0]
    if first_exc is not None:
        raise first_exc


@contextlib.contextmanager
def settle_on_exit():
    """Settle the async counts on every exit of the block (or of the
    operator it decorates), so none stays pending into the next query,
    whose settle would re-raise its error. When the block raises, its
    exception wins; a count failure found while unwinding is chained to
    it as the cause, not raised in its place."""
    try:
        yield
    except BaseException as exc:
        try:
            settle()
        except BaseException as count_exc:
            raise exc from count_exc
        raise
    settle()


def observed(obs) -> dict | None:
    """``obs.get`` for an Observation whose action already ran, bounded.

    Metric delivery rides an asynchronous listener, so ``obs.get`` can
    block forever on engine drift; it is read on a daemon thread and
    waited for at most OBSERVE_WAIT_S. Returns the metric dict, or None
    for the caller's own fallback: at once when ``obs.get`` raises, after
    the bound when nothing arrives. The first timeout turns observation
    off for the application: its later waits return None at once and
    start no thread, so one lost delivery costs one bounded wait, not one
    per CC round or micro-batch (VERDICT r13 #3)."""
    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    if app in _NO_OBSERVATION:
        return None
    t, got = _on_daemon_thread(lambda: obs.get, "graft-observation")
    t.join(OBSERVE_WAIT_S)
    if not got:
        _NO_OBSERVATION.add(app)
        _LOG.warning(
            "observed metric not delivered in %ss — falling back, and "
            "skipping observed metrics for the rest of application %s",
            OBSERVE_WAIT_S,
            app,
        )
        return None
    if isinstance(got[0], BaseException):
        _LOG.warning("observed metric failed (%r) — falling back", got[0])
        return None
    return got[0]


def run_observed(frame: DataFrame, action, *aggs) -> dict:
    """Run ``action`` on ``frame`` with the named aggregates ``aggs``
    observed on it, and return their values by name. They come from the
    action's own job; when :func:`observed` returns None they are computed
    over the same ``frame`` by one aggregation query, so a lost delivery
    costs that query, never a wrong value."""
    from pyspark.sql import Observation

    obs = Observation()
    action(frame.observe(obs, *aggs))
    vals = observed(obs)
    return vals if vals is not None else frame.agg(*aggs).first().asDict()
