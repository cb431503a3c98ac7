"""In-memory span recorder for traced benchmark runs.

A span is (id, name, start_ms, end_ms, parent, run) with wall-clock
epoch milliseconds, so spans timed in Python and job/stage times read from
the JVM's status store share one clock.  Spans are kept in memory and
written out once, when the run ends.
"""

from __future__ import annotations

import json
import math
from pathlib import Path

# JVM timestamps are whole milliseconds; Python spans are widened to whole
# milliseconds so a child read from the JVM never pokes out by rounding.
_SLACK_MS = 1.0


def floor_ms(t: float) -> float:
    return float(math.floor(t * 1e3))


def ceil_ms(t: float) -> float:
    return float(math.ceil(t * 1e3))


class Trace:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.root: int | None = None

    def add(self, name: str, start_ms: float, end_ms: float, parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "start_ms": start_ms,
                "end_ms": end_ms,
                "parent": parent,
                "run": self.run_id,
                **attrs,
            }
        )
        return sid

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        spans = self_times(self.spans)
        path.write_text(json.dumps({"run": self.run_id, "spans": spans}))


def self_times(spans: list[dict]) -> list[dict]:
    """Copy of ``spans`` with ``self_ms``: duration minus the part of it
    covered by the union of the span's children (clipped to the span)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        covered, end = 0.0, a
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], end), min(c["end_ms"], b)
            if hi > lo:
                covered += hi - lo
                end = hi
        out.append({**s, "self_ms": (b - a) - covered})
    return out


def nesting_errors(spans: list[dict]) -> list[str]:
    """Children that do not lie inside their parent, and negative self times."""
    by_id = {s["id"]: s for s in spans}
    errs = []
    for s in self_times(spans):
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if p is not None and (
            s["start_ms"] < p["start_ms"] - _SLACK_MS or s["end_ms"] > p["end_ms"] + _SLACK_MS
        ):
            errs.append(f"{s['name']}#{s['id']} outside {p['name']}#{p['id']}")
        if s["self_ms"] < -_SLACK_MS:
            errs.append(f"{s['name']}#{s['id']} self time {s['self_ms']:.1f} ms")
    return errs
