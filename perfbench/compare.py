#!/usr/bin/env python3
"""Compare benchmark result files (``perfbench/_work/results/*.json``).

    python3 perfbench/compare.py --base A1.json A2.json ... [--new B1.json ...]

With ``--base`` only, prints each workload's end-to-end medians and the
spread (interquartile distance over median) next to the metric's bound from
``BENCHMARK.json``.  With ``--new`` too, prints base and new medians and
flags a metric whose new median is worse than the base by more than its
bound.  The recorded wall times (``wall``) are printed the same way,
without a bound: they are not gated.  Results from machines with different
``cpus`` or shuffle partitions are refused: their timings do not compare.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def _load(paths: list[str]) -> dict[str, list[dict]]:
    by_wl: dict[str, list[dict]] = {}
    for p in paths:
        r = json.loads(Path(p).read_text())
        if r.get("trace"):
            continue
        by_wl.setdefault(r["workload"], []).append(r)
    return by_wl


def _stamp(results: list[dict]) -> set[tuple]:
    return {(r["env"]["cpus"], r["env"]["shuffle_partitions"]) for r in results}


def spread(values: list[float]) -> float:
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return 0.0
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / abs(med)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", default=None)
    args = ap.parse_args(argv)

    spec = {m["name"]: m for m in json.loads((HERE.parent / "BENCHMARK.json").read_text())["end_to_end"]}
    base = _load(args.base)
    new = _load(args.new) if args.new else {}
    stamps = set().union(*(_stamp(v) for v in (*base.values(), *new.values())))
    if len(stamps) > 1:
        print(f"refusing to compare results from different machines: (cpus, shuffle partitions) = {sorted(stamps)}", file=sys.stderr)
        return 2

    worse = 0
    for wl in sorted(base):
        print(f"== {wl}: {len(base[wl])} base runs" + (f", {len(new.get(wl, []))} new runs" if new else ""))
        for name, m in spec.items():
            b = [r["e2e"][name] for r in base[wl]]
            line = f"  {name:16s} base {statistics.median(b):12.4f} spread {spread(b):6.3f} (bound {m['bound']})"
            if new.get(wl):
                n = [r["e2e"][name] for r in new[wl]]
                mb, mn = statistics.median(b), statistics.median(n)
                change = (mn - mb) / mb if mb else 0.0
                bad = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
                worse += bad
                line += f" | new {mn:12.4f} spread {spread(n):6.3f} change {change:+.3f}" + (" WORSE" if bad else "")
            print(line)
        for name in base[wl][0].get("wall", {}):
            b = [r["wall"][name] for r in base[wl]]
            line = f"  {name:16s} base {statistics.median(b):12.4f} spread {spread(b):6.3f} (not gated)"
            if new.get(wl):
                n = [r["wall"][name] for r in new[wl]]
                mb, mn = statistics.median(b), statistics.median(n)
                line += f" | new {mn:12.4f} spread {spread(n):6.3f} change {(mn - mb) / mb:+.3f}"
            print(line)
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
