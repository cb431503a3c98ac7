"""Driver-side construction caches for PURE, UNRESOLVED plan artifacts.

Motivation (optimization round 12, guide §5 "the driver should do almost
no data work" / §7.3 planning overhead): building a Column expression
tree in PySpark costs one py4j socket round trip per operator, and the
suite's big trees are rebuilt identically on EVERY query invocation —
measured on this box, constructing ``q_web_pipeline``'s plan alone is
~3,850 round trips ≈ 1.2 s, the same order as executing it at sf0.1,
and the robots rule-parse subtree is rebuilt per consuming query.  On a
production driver the same cost is paid per job submission.

What may be cached here — artifacts that carry NO materialized state:

- ``memo_expr``: Column expression trees built from hashable args
  (column NAMES, literals).  A Column is an immutable, unresolved
  syntax tree; the same tree resolves per-DataFrame at analysis time,
  so reuse cannot observe data.  Calls with Column arguments (which are
  unhashable by design) transparently bypass the cache.
- ``session_memo``: per-SparkSession plan objects (lazy base-table
  scans, literal local frames).  Every ACTION over them still computes
  from source — nothing here is ``persist``/``checkpoint``-backed.

What must NEVER go through this module: DataFrames holding materialized
state (checkpointed/persisted frames, operator outputs) or anything
derived from input DATA — that would be result caching across bench
runs, which the driver contract forbids.
"""

from __future__ import annotations

import functools
import threading
from collections import OrderedDict
from typing import Any, Callable, TypeVar
from weakref import WeakKeyDictionary

_F = TypeVar("_F", bound=Callable)

# (module, qualname, args, kwargs) -> constructed expression artifact, in
# least-recently-used order.  The bound keeps driver memory fixed when a
# caller builds expressions from an open-ended set of literals; the suite's
# own working set is far smaller, so it never evicts there.
_EXPR_MEMO_SIZE = 1024
_EXPR_MEMO: "OrderedDict[tuple, Any]" = OrderedDict()
_EXPR_LOCK = threading.Lock()

# session -> {key -> DataFrame plan}; weak keys let dead sessions drop
_SESSION_MEMO: "WeakKeyDictionary[Any, dict]" = WeakKeyDictionary()


def memo_expr(fn: _F) -> _F:
    """Memoize a pure Column-builder on its (hashable) arguments, keeping
    the ``_EXPR_MEMO_SIZE`` most recently used results.

    Unhashable arguments — Columns, lists, DataFrames — bypass the cache
    and build normally, so ``Column | str`` builder signatures keep
    working for both spellings; only the string/literal form is cached.
    """

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        key = (fn.__module__, fn.__qualname__, args, tuple(sorted(kwargs.items())))
        try:
            hash(key)
        except TypeError:
            return fn(*args, **kwargs)
        with _EXPR_LOCK:
            hit = _EXPR_MEMO.get(key)
            if hit is not None:
                _EXPR_MEMO.move_to_end(key)
                return hit
        hit = fn(*args, **kwargs)
        with _EXPR_LOCK:
            _EXPR_MEMO[key] = hit
            if len(_EXPR_MEMO) > _EXPR_MEMO_SIZE:
                _EXPR_MEMO.popitem(last=False)
        return hit

    return wrapper  # type: ignore[return-value]


def session_memo(spark, key: tuple, build: Callable[[], Any]):
    """Per-session memo for stateless plan objects (lazy scans, literal
    frames).  ``key`` must be fully hashable and include everything the
    plan depends on."""
    per = _SESSION_MEMO.get(spark)
    if per is None:
        per = _SESSION_MEMO[spark] = {}
    hit = per.get(key)
    if hit is None:
        hit = per[key] = build()
    return hit


def clear_plan_caches() -> int:
    """Drop every cached artifact (tests / JVM restarts)."""
    with _EXPR_LOCK:
        n = len(_EXPR_MEMO) + sum(len(v) for v in _SESSION_MEMO.values())
        _EXPR_MEMO.clear()
    _SESSION_MEMO.clear()
    return n
