"""A/B subprocess runner for bench.py's same-session drift check.

Usage: python tools/ab_bench.py WORKTREE_DIR SF_DIR NAME [NAME ...]

Runs the named suite queries FROM THE CODE AT ``WORKTREE_DIR`` (a git
worktree of the prior round's commit) under a DEEPER variant of bench.py's
timing protocol: TWO untimed warm-ups, then a minimum of THREE timed runs
(a fourth while best > 0.5s, a fifth while best > 1.5s), printing ONE JSON
line ``{name: best_sec, ...}`` on stdout.  The extra warm-up and timed
iteration exist because each A/B side runs in a FRESH JVM whose C2
compiler needs more iterations to settle, and the A/B verdict hinges on
small deltas the headline bench never has to resolve (see the r11
convergence curves in SCALE.md: the guarded dedup plan takes ~6 runs to
reach steady state in a cold JVM).

This exists because round-over-round bench deltas on a shared box are
otherwise unfalsifiable: CORRECTNESS/BENCH rounds are days apart, and
same-code totals have been observed drifting 25 -> 29s across one day
(page cache + co-tenant noise).  Re-timing the PRIOR commit minutes after
the current one, on the same machine state, cancels the environment term:
if prior-code-now ≈ current-code-now, the recorded delta was box drift;
if prior-code-now reproduces its old number while current code is slower,
the regression is real and attributable to the diff.

A fresh interpreter (and therefore a fresh JVM/SparkSession) is required
— the prior commit's package must import cleanly without fighting the
parent's loaded modules — so this script is exec'd by bench.py rather
than imported.  Queries missing from the prior commit's registry are
reported as null.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> int:
    worktree, sf_dir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sys.path.insert(0, worktree)

    from ironbeam_spark.session import get_spark
    from ironbeam_spark.suite import QUERIES

    spark = get_spark("ironbeam-bench-ab")
    spark.sparkContext.setLogLevel("ERROR")

    # session bring-up outside the numbers, as in bench.py
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.createDataFrame([(1,)], "a int").mapInArrow(lambda it: it, "a int").count()

    out: dict[str, float | None] = {}
    for name in names:
        if name not in QUERIES:
            out[name] = None
            continue
        # two warm-up passes (vs bench.py's one): a fresh JVM needs the
        # extra iteration for C2 compilation to settle, and the A/B verdict
        # hinges on small deltas bench.py's headline never has to resolve
        QUERIES[name].fn(spark, sf_dir).count()
        QUERIES[name].fn(spark, sf_dir).count()
        best, runs = None, 0
        while (
            runs < 3
            or (runs < 4 and best > 0.5)
            or (runs < 5 and best > 1.5)
        ):
            t0 = time.perf_counter()
            QUERIES[name].fn(spark, sf_dir).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            runs += 1
        out[name] = round(best, 3)
        print(f"# ab {name}: {best:.3f}s ({runs} runs)", file=sys.stderr)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
