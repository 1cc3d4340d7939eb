"""Lifetime of persisted frames that outlive the call that built them.

A lazy builder returns an unexecuted plan that reads a persisted frame,
so it can never unpersist that frame itself. It pins the frame in a
named slot instead: a slot holds at most one frame per session, and the
next pin into the same slot evicts the previous holder, so pinned
executor memory is bounded by the number of slots, not by the number of
query runs. An eager caller that has materialized everything it needs
empties its slot with :func:`release`.

Invariant: evict BEFORE persist. Spark's cache manager keys entries by
analyzed plan, not object identity, so unpersisting the old holder
after persisting a new frame with the same plan (the same builder over
the same input) would drop the new frame's cache too. For the same
reason, builders whose frames can share an analyzed plan must share a
slot: two slots holding equal plans would evict each other's entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SLOTS: dict[str, DataFrame] = {}


def pin(slot: str, df: DataFrame) -> DataFrame:
    """Evict ``slot``'s current frame, then persist ``df`` into it."""
    release(slot)
    _SLOTS[slot] = df.persist()
    return df


def release(slot: str) -> None:
    """Unpersist ``slot``'s frame, if any, and leave the slot empty."""
    old = _SLOTS.pop(slot, None)
    if old is not None:
        old.unpersist()


def free_checkpoint(df: DataFrame) -> None:
    """Release the cached blocks behind a localCheckpoint'ed frame.

    ``DataFrame.unpersist()`` only talks to the SQL cache manager and
    never reaches the RDD blocks a local checkpoint stores, so an
    iterative algorithm that checkpoints per round leaks one block set
    per round for the session lifetime. This frees them through the
    LogicalRDD's underlying RDD. Best-effort by design: if the internal
    accessor shape ever changes, leaking beats crashing the query. The
    frame must be SUPERSEDED — it is unreadable afterwards."""
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:  # pragma: no cover - internals drifted; accept leak
        pass
