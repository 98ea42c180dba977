"""Caller-controlled persistence contract for operator intermediates.

Several datapipe operators persist a shared intermediate (a tokenized /
exploded projection) because two downstream aggregates consume it and
Catalyst does not dedupe repeated subplans.  The operators return LAZY
DataFrames, so they cannot unpersist after "the action" themselves — the
action belongs to the caller.  This module is the contract that keeps
executor storage flat across a long composed pipeline:

- operators persist ONLY through :func:`register_cache`, which tracks the
  handle in a process-wide registry (STRONG references on purpose: the
  cached subplan is consumed through the JVM plan, not through the Python
  handle, so a GC-driven release would unpersist intermediates before the
  caller's action ever runs);
- iterative operators run their rounds through :func:`iterate`: one
  tracked lazy ``localCheckpoint`` per round, a superseded round freed
  once a convergence probe has materialized its successor.  Under AQE,
  building a lazy checkpoint's RDD already runs the round's shuffle
  stages, so most of their jobs run while the DataFrame is built, not
  under the caller's action;
- callers invoke :func:`release_caches` once they have consumed the
  operator's output (after the final action on it) — every tracked
  intermediate is unpersisted and the registry emptied;
- as a backstop for callers that never release (a foreachBatch handler
  building fresh operators every micro-batch, a long notebook session),
  the registry is BOUNDED: beyond ``MAX_ACTIVE`` entries the oldest is
  unpersisted FIFO.  Unpersisting never changes results — a still-needed
  intermediate is merely recomputed — so the bound trades worst-case
  recompute for a hard storage ceiling.  (Checkpoint ids are NOT subject
  to the bound: a checkpoint has no lineage to recompute from, so a
  silent mid-pipeline eviction would break correctness, not just speed.)

Checkpoint release goes through ``SparkContext.unpersistRDD`` BY RDD ID,
not ``Dataset.unpersist()``: a localCheckpoint caches its RDD at the RDD
layer, outside the SQL cacheManager, so ``Dataset.unpersist()`` on (or
under) a checkpointed frame is a silent no-op — measured directly: the
blocks stay in ``getRDDStorageInfo`` forever, and a 157-query bench
session accumulated hundreds of dead checkpoint partitions (the
within-session slowdown drift).  The RDD id is captured at registration
time, so release works even after the Python handle is gone; Spark never
reuses RDD ids within a context, so releasing a stale id is safe.

``bench.py`` and the test suite call :func:`release_caches` after every
query action; put the same call at the end of a foreachBatch handler.
"""

from __future__ import annotations

import threading
from typing import Callable, List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

MAX_ACTIVE = 64

# registry mutations are locked: concurrent streaming queries each call
# release_caches() from their own foreachBatch driver thread, and the
# unlocked check-then-pop loops raced (IndexError killing a query)
_LOCK = threading.Lock()

_ACTIVE: List[DataFrame] = []
# RDD ids (ints) of tracked localCheckpoint frames — ids, not handles, so
# release works regardless of whether the caller kept the frame alive
_CHECKPOINT_IDS: List[int] = []


def _checkpoint_rdd_id(df: DataFrame) -> Optional[int]:
    """The id of the cached RDD behind a localCheckpoint frame.

    A checkpointed Dataset's analyzed plan is a ``LogicalRDD`` wrapping
    the (persisted) checkpoint RDD; anything else — or any py4j surprise
    on an internal API — returns None and the caller degrades to a
    no-op."""
    try:
        return df._jdf.queryExecution().analyzed().rdd().id()
    except Exception:
        return None


def _unpersist_rdd_id(rdd_id: int) -> bool:
    """Drop the blocks of a persisted RDD by id (non-blocking).  Safe for
    already-released or never-materialized ids."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return False
    try:
        sc._jsc.sc().unpersistRDD(rdd_id, False)
        return True
    except Exception:
        return False


def register_cache(
    df: DataFrame,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Persist ``df`` and track it for a later :func:`release_caches`.

    MEMORY_AND_DISK (Spark's DataFrame default) keeps hot intermediates in
    memory and spills corpus-scale ones to disk; with the release contract
    in place, accumulation — not spill policy — was the actual 100 TB
    hazard, so the default stays."""
    df.persist(storage_level)
    evicted = []
    with _LOCK:
        _ACTIVE.append(df)
        while len(_ACTIVE) > MAX_ACTIVE:
            evicted.append(_ACTIVE.pop(0))
    for old in evicted:
        old.unpersist()
    return df


def track_checkpoint(df: DataFrame) -> DataFrame:
    """Track a ``localCheckpoint`` frame (eager or lazy) so
    :func:`release_caches` frees its blocks too.

    The release contract is stricter for checkpoints than for
    :func:`register_cache` entries: a checkpoint has no lineage to
    recompute from, so after ``release_caches()`` a further action on the
    returned plan raises (missing checkpoint blocks) rather than
    recomputing — callers must release only after the final action, which
    is already the documented contract."""
    rdd_id = _checkpoint_rdd_id(df)
    if rdd_id is not None:
        with _LOCK:
            _CHECKPOINT_IDS.append(rdd_id)
    return df


def free_checkpoint(df: DataFrame) -> bool:
    """Immediately drop a SUPERSEDED checkpoint's blocks and its tracked
    id; False when ``df`` is not a checkpoint frame.  The caller must
    guarantee the materialization order — freeing a checkpoint that a
    not-yet-run lazy checkpoint still reads from would fail that job."""
    rdd_id = _checkpoint_rdd_id(df)
    if rdd_id is None:
        return False
    with _LOCK:
        while rdd_id in _CHECKPOINT_IDS:
            _CHECKPOINT_IDS.remove(rdd_id)
    return _unpersist_rdd_id(rdd_id)


def release(df: DataFrame) -> None:
    """Free ``df`` now: its checkpoint blocks, or its :func:`register_cache`
    entry — e.g. an operator's last intermediate its output never reads."""
    if free_checkpoint(df):
        return
    with _LOCK:
        registered = any(d is df for d in _ACTIVE)
        _ACTIVE[:] = [d for d in _ACTIVE if d is not df]
    if registered:
        df.unpersist()


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    stop: Optional[Callable[[DataFrame, DataFrame], bool]] = None,
    invariants: Sequence[DataFrame] = (),
) -> Optional[DataFrame]:
    """``state = step(state)`` for at most ``rounds`` rounds, each round
    cut off by a lazy ``localCheckpoint`` tracked at creation (so every
    exit path leaves it to :func:`release_caches`).

    ``stop(new, old)`` is the round's one materializing action (it must
    consume every partition of ``new``); ``old`` is freed only after it
    returns, so at most two rounds are stored.  Returns the first round
    ``stop`` accepts, or None with the last round freed if it accepts
    none.  Without ``stop`` all rounds run and the whole chain
    stays tracked: each round's plan reads its predecessor's checkpoint.
    ``invariants`` (register_cache frames every round reads) are freed on
    every exit path."""
    try:
        for _ in range(int(rounds)):
            new = track_checkpoint(step(state).localCheckpoint(eager=False))
            if stop is not None:
                done = stop(new, state)
                release(state)
                if done:
                    return new
            state = new
        if stop is None:
            return state
        release(state)
        return None
    finally:
        for df in invariants:
            release(df)


def release_caches() -> int:
    """Unpersist every registered intermediate (non-blocking) and empty the
    registry.  Returns how many handles were released.  Safe to call at any
    time for :func:`register_cache` entries (recompute, never wrong);
    :func:`track_checkpoint` entries must not be consumed again after —
    and the registry is GLOBAL, so this also destroys the checkpoints of
    any OTHER still-unconsumed pipeline built in the meantime (a
    checkpoint has no lineage to recompute from; the later action raises
    on missing blocks).  Consume-then-release one pipeline at a time."""
    with _LOCK:
        active, _ACTIVE[:] = list(_ACTIVE), []
        ckpts, _CHECKPOINT_IDS[:] = list(_CHECKPOINT_IDS), []
    n = 0
    for df in reversed(active):
        df.unpersist()
        n += 1
    for rdd_id in reversed(ckpts):
        if _unpersist_rdd_id(rdd_id):
            n += 1
    return n
