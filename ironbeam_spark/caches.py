"""The one owner of operator-materialized state.

Who calls :func:`hold`: every operator or suite query that ``persist``s,
``cache``s or ``localCheckpoint``s an intermediate which several plan
subtrees reread (shingle tables, posting lists, scan slices, pagerank
edge/node frames, canonical edge sets, decoded codec lines, a reused CTE,
a dead-letter classification).  It wraps the frame where it is made —
``df = caches.hold(df.persist(...))`` — and keeps no list of its own.
The returned plan is lazy, so the code that built it cannot release it.

When release happens: :func:`release_all_caches` unpersists and drops
every held frame.  The process that runs a query calls it once the result
is materialized (collected, counted or written): ``bench.py`` and
``perfbench`` between queries, and ``tools/check.py`` after each
compare.  Results stay correct after
release because every consumer replays lineage
(``tests/test_recompute.py``).

Why an unreleased frame is a bug: Spark's CacheManager matches persisted
plans structurally, so an entry that outlives its query is reused by the
next structurally equal plan — in this run or a later one in the same
session.  That is a result cache across invocations, which
``plancache``'s contract forbids, and it pins executor storage the next
query needs.  ``tools/check.py`` fails a query that leaves CacheManager
non-empty after release, so every registry query is checked for it.  localCheckpoint blocks
are not in CacheManager (``unpersist`` is a no-op for them); they free
once the last reference is garbage-collected, which dropping them here
allows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["hold", "release_all_caches"]

_HELD: list[DataFrame] = []


def hold(df: DataFrame) -> DataFrame:
    """Register a persisted or checkpointed frame for release; returns it."""
    _HELD.append(df)
    return df


def release_all_caches() -> int:
    """Unpersist and drop every held frame; returns how many there were."""
    n = len(_HELD)
    while _HELD:
        _HELD.pop().unpersist()
    return n
