"""Tracked persist registry: every ``persist()`` a query takes goes
through :func:`tracked_persist`, so a long-lived harness (the 392-query
oracle sweep, ``bench.py``, a notebook session) can release ALL cached
blocks between queries with one :func:`release_cached` call instead of
leaning on LRU eviction.

Why not unpersist inside the query functions themselves: queries return
LAZY DataFrames — the caller collects later, and the persisted frames
are usually reachable from the returned plan, so an in-function
unpersist would forfeit the cache before its one consumer runs.
Releasing is therefore the harness's job, after it has consumed the
result. Unpersisting is always CORRECT (Spark recomputes from lineage);
this is purely a memory-accumulation discipline.

The one exception is :func:`fixpoint`, the checkpointed-round primitive
every iterative graph loop runs on: a round state is dead once the next
round's checkpoint has materialized, so the primitive releases it in the
loop itself and only the final state waits for the harness.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Tuple

from pyspark.sql import DataFrame

_TRACKED: List[DataFrame] = []


def tracked_persist(df: DataFrame, level=None) -> DataFrame:
    """``df.persist()`` + registration for later :func:`release_cached`."""
    out = df.persist(level) if level is not None else df.persist()
    _TRACKED.append(out)
    return out


def tracked_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` + registration for later
    :func:`release_cached` — the lineage-truncating barrier under
    :func:`fixpoint`. UNLIKE a persisted frame, a released checkpoint
    cannot be recomputed (its lineage is gone); the harness contract
    already guarantees release happens only AFTER the query's result has
    been consumed, which is exactly when the blocks are dead. Tracking
    them keeps the no-block-accumulation discipline exact: a bench/sweep
    run releases every round state instead of leaking one |V|-sized
    frame per iterative query."""
    out = df.localCheckpoint(eager=True)
    _TRACKED.append(out)
    return out


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    *,
    until: Optional[Callable[[DataFrame, DataFrame], bool]] = None,
) -> Tuple[DataFrame, int]:
    """Run up to ``rounds`` rounds of ``state = step(state, r)`` for
    r = 1, 2, … and return ``(final state, rounds run)``.

    Each round's result is checkpointed eagerly as a tracked frame
    (:func:`tracked_checkpoint`), never just persisted: a round state is
    typically referenced twice by the next round (a relay join plus the
    fold), so persist-with-lineage doubles the LOGICAL plan every round
    and every barrier re-pays its Catalyst analysis — measured on
    graph_kcore_full as 1.5 s → 28.9 s per round by round 6, and as
    2 MB final plans on the BFS/CC loops. The checkpoint truncates the
    lineage to the materialized partitions and, being eager, is also the
    round's materialization barrier.

    ``until(prev, cur)``, when given, runs after the checkpoint and ends
    the loop when it returns true. Then, stop or not, the superseded
    state is released: its blocks are dropped and it leaves the
    registry, so the loop holds one round state at a time, plus whatever
    the caller persisted. The seed ``state`` is released after round 1
    the same way (a no-op on a never-materialized seed). A released
    checkpoint cannot be recomputed, so nothing ``step`` builds may
    outlive the round it was built for except through the next
    checkpoint; the final state stays tracked for
    :func:`release_cached`."""
    done = 0
    for r in range(1, rounds + 1):
        cur = tracked_checkpoint(step(state, r))
        stop = until is not None and until(state, cur)
        _release(state)
        _TRACKED[:] = [d for d in _TRACKED if d is not state]
        state, done = cur, r
        if stop:
            break
    return state, done


def unchanged(measure: Callable[[DataFrame], object], seed_value) -> Callable:
    """``until`` test for :func:`fixpoint` over a MONOTONE map, where an
    unchanged scalar ``measure(state)`` means an unchanged state.
    ``seed_value`` is the measure of the seed state (callers often need
    it before the loop), so each round runs ``measure`` once, on its new
    state."""
    last = seed_value

    def until(_prev: DataFrame, cur: DataFrame) -> bool:
        nonlocal last
        now = measure(cur)
        same, last = now == last, now
        return same

    return until


def _release(df: DataFrame, blocking: bool = False) -> None:
    """Unpersist ``df`` whether it was ``persist()``-ed or
    ``localCheckpoint()``-ed. ``DataFrame.unpersist`` is a CacheManager
    call, and a checkpointed frame's blocks live on its UNDERLYING RDD,
    which the CacheManager never registered — so plain unpersist was a
    silent no-op for checkpointed round states (found in optimization
    round 9: every iterative query leaked one RDD per round into
    getPersistentRDDs). Reach through the LogicalRDD to drop the blocks.
    Only call after the frame's consumers are done: a released
    checkpoint cannot be recomputed (its lineage is truncated)."""
    try:
        df.unpersist(blocking)
    except Exception:  # a stopped session's frames are already gone
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(blocking)
    except Exception:
        pass


def release_cached(blocking: bool = False) -> int:
    """Unpersist every tracked frame (newest first); returns the count.
    The harness calls this AFTER consuming a query's result: persisted
    frames could recompute from lineage at any time, checkpointed round
    states (tracked_checkpoint) cannot — released blocks are dead by the
    harness contract."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        _release(df, blocking)
        n += 1
    return n
