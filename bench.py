"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Protocol: one untimed warm-up pass over every query (JVM bring-up, parquet
footer caches, whole-stage-codegen compilation), then a timed pass taking
the best of 2 runs per query — steady-state wall time, robust to transient
machine load.  Compilation cost is a per-plan constant that amortizes to
zero in the long-running-job regime this engine targets; the cold pass is
still reported on stderr for transparency.  Every frame an operator held
(``caches.hold``) is released after each query's runs: the best-of runs
of one query share them, no other query or pass reuses them.

Drift attribution: any headline query moving >15% vs the prior round's
recorded BENCH_r*.json on the same core count triggers a same-session A/B — the prior round's
commit is checked out into a worktree and re-timed NOW (tools/ab_bench.py,
same protocol), so box drift (prior-code-now ≈ current-code-now) is
separable from real regressions (prior code still fast, current slow).
Verdicts land in BENCH_DETAIL.json["ab_check"].
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from ironbeam_spark.caches import release_all_caches  # noqa: E402
from ironbeam_spark.session import get_spark  # noqa: E402
from ironbeam_spark.suite import QUERIES  # noqa: E402


def _prior_bench(cpus: int) -> tuple[Path, str] | None:
    """The newest committed BENCH_r*.json recorded on ``cpus`` cores, with
    the commit that last touched it; None when there is none.

    A run on another core count is no baseline: BENCH_r13_c8.json (8
    cores) ties BENCH_r13.json (32 cores) on round number.  Only committed
    files count: the current round's own BENCH file is often untracked
    when bench re-runs mid-round, and comparing against it would find no
    drift (round-10 ADVICE)."""
    import subprocess

    def _round_no(p: Path) -> int:
        m = re.search(r"r(\d+)", p.name)
        return int(m.group(1)) if m else -1

    for cand in sorted(Path(_REPO).glob("BENCH_r*.json"), key=_round_no, reverse=True):
        if json.loads(cand.read_text()).get("cpus") != cpus:
            continue
        commit = subprocess.run(
            ["git", "log", "-n", "1", "--format=%H", "--", cand.name],
            cwd=_REPO, capture_output=True, text=True,
        ).stdout.strip()
        if commit:
            return cand, commit
    return None


def _ab_drift_check(
    names: list[str], times: dict[str, float], sf_dir: str, cpus: int
) -> dict:
    """Compare ``times`` against the newest BENCH_r*.json run on the same
    core count (:func:`_prior_bench`); for queries
    drifting >15% either way, time the prior round's commit AND the
    current tree in two identical back-to-back subprocesses
    (``tools/ab_bench.py``, same timing protocol) and attribute each
    delta to ``code`` or ``environment``.  Both sides run in FRESH JVMs
    on the same machine state, minutes apart — comparing the prior
    commit's subprocess against the parent session's warmed numbers
    would systematically flag "code" (a fresh JVM reads ~1.5x slower
    than the long-warmed parent even after its own warm-up pass;
    measured while building this).  Bounded: only queries >= 0.2s
    (smaller ones are timer noise), at most the 10 largest relative
    drifts, one subprocess pair for all of them."""
    import shutil
    import subprocess

    found = _prior_bench(cpus)
    if found is None:
        return {"skipped": f"no committed BENCH_r*.json run on {cpus} cpus"}
    prior_file, commit = found
    prior = json.loads(prior_file.read_text())
    # the driver wraps bench.py's stdout payload under "parsed"
    prev_q = (prior.get("queries") or (prior.get("parsed") or {}).get("queries")) or {}
    drifted = sorted(
        (
            n
            for n in names
            if isinstance(prev_q.get(n), (int, float))
            and prev_q[n] >= 0.2
            and times[n] >= 0.2
            and abs(times[n] - prev_q[n]) / prev_q[n] > 0.15
        ),
        key=lambda n: -abs(times[n] - prev_q[n]) / prev_q[n],
    )[:10]
    if not drifted:
        return {"prior": prior_file.name, "drifted": []}

    wt = str(Path(_REPO) / ".bench_ab_worktree")
    subprocess.run(
        ["git", "worktree", "remove", "--force", wt],
        cwd=_REPO, capture_output=True,
    )
    shutil.rmtree(wt, ignore_errors=True)
    subprocess.run(
        ["git", "worktree", "add", "--detach", wt, commit],
        cwd=_REPO, capture_output=True, text=True, check=True,
    )
    def _run_ab(tree: str, tag: str) -> dict:
        proc = subprocess.run(
            [sys.executable, str(Path(_REPO) / "tools" / "ab_bench.py"), tree, sf_dir]
            + drifted,
            capture_output=True,
            text=True,
            timeout=1200,
        )
        for ln in proc.stderr.splitlines():
            if ln.startswith("# ab "):
                print(ln.replace("# ab ", f"# ab[{tag}] "), file=sys.stderr)
        return json.loads(proc.stdout.strip().splitlines()[-1])

    try:
        # PALINDROME order (prior, current, current, prior), two fresh JVMs
        # per side, best-of per side: measured same-tree spread between two
        # single fresh sessions on this box is ~33% on sub-second queries
        # (JIT + co-tenant noise), so one pair cannot resolve a 15% delta —
        # and the box has been observed degrading MONOTONICALLY during the
        # A/B itself, which an A/B/A/B order converts into a systematic
        # bias against whichever side runs second; the palindrome gives
        # each side one early and one late slot, symmetric about the
        # midpoint, so linear drift cancels.  Per-side sample pairs are
        # kept so the verdict can detect an unstable box (intra-side
        # spread) and refuse to call "code".
        samples: dict[str, list[dict]] = {"prior": [], "current": []}
        for tree, tag in ((wt, "prior"), (_REPO, "current"),
                          (_REPO, "current"), (wt, "prior")):
            samples[tag].append(_run_ab(tree, tag))
        prior_now, current_now, instab = {}, {}, {}
        for n in drifted:
            for tag, acc in (("prior", prior_now), ("current", current_now)):
                vals = [s.get(n) for s in samples[tag] if s.get(n) is not None]
                acc[n] = min(vals) if vals else None
                if len(vals) == 2 and min(vals) > 0:
                    instab[n] = max(
                        instab.get(n, 0.0), max(vals) / min(vals) - 1.0
                    )
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=_REPO, capture_output=True,
        )
        shutil.rmtree(wt, ignore_errors=True)

    rows = {}
    for n in drifted:
        pn, cn = prior_now.get(n), current_now.get(n)
        if pn is None or cn is None:
            verdict = "not-in-prior-commit"
        elif abs(cn - pn) / pn <= 0.15:
            # prior code and current code, timed in alternating fresh
            # sessions, land together: the recorded round-over-round
            # delta was the box, not the diff
            verdict = "environment"
        elif abs(cn - pn) / pn > 0.30:
            # a clear split — unless the box was visibly unstable DURING
            # the A/B (either side's own two JVMs spread >20%), in which
            # case a code call cannot be trusted
            verdict = (
                "code" if instab.get(n, 0.0) <= 0.20 else "inconclusive-unstable-box"
            )
        else:
            # between the same-tree noise floor and a clear code delta
            verdict = "inconclusive"
        rows[n] = {
            "prior_recorded": prev_q[n],
            "current": times[n],
            "prior_commit_now": pn,
            "current_commit_now": cn,
            "intra_side_spread": round(instab.get(n, 0.0), 3),
            "verdict": verdict,
        }
        print(
            f"# ab verdict {n}: recorded {prev_q[n]:.3f}s -> {times[n]:.3f}s; "
            f"fresh-session A/B prior={pn} current={cn} => {verdict}",
            file=sys.stderr,
        )
    return {"prior": prior_file.name, "prior_commit": commit, "queries": rows}


def _calibration_sec(spark, sf_dir: str) -> float:
    """Fixed code-independent calibration workload (round-10 verdict ask:
    same-code wall numbers rose ~40% in one afternoon on this shared box,
    so absolute seconds no longer support round-over-round conclusions).
    A pinned vanilla scan+shuffle+agg over lineitem — no package code, so
    engine changes cannot move it; only the box can.  Timed immediately
    before AND after the suite; BENCH_DETAIL.json records both plus
    ``normalized_headline`` = headline / mean(calibration), the
    box-drift-normalized metric comparable across rounds."""
    from pyspark.sql import functions as _F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _F.sum("l_quantity").alias("sq"),
            _F.avg("l_extendedprice").alias("ap"),
            _F.count_distinct("l_partkey").alias("dp"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    # warm until two consecutive runs agree within 15% (cap 6): the FIRST
    # pre-suite sample otherwise reads C2 compilation, not the box (the
    # trial run measured pre 0.37s vs post 0.14s in one process — all JIT)
    prev = None
    for _ in range(6):
        t0 = time.perf_counter()
        q.count()
        dt = time.perf_counter() - t0
        if prev is not None and abs(dt - prev) / max(dt, prev) < 0.15:
            break
        prev = dt
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        q.count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("ironbeam-bench")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n, q in QUERIES.items() if q.bench]

    # Session bring-up OUTSIDE the per-query cold numbers: first parquet
    # read (Hadoop FS + footer machinery), whole-stage-codegen bootstrap,
    # and the Python-worker pool for Arrow-batched operators.  On a real
    # cluster these are cluster-start costs, not query costs; without this
    # the first query in the list gets billed ~5s of JVM warm-up (round-5
    # lesson: q_token_packing led the list and its cold number tripled).
    t0 = time.perf_counter()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.createDataFrame([(1,)], "a int").mapInArrow(
        lambda it: it, "a int"
    ).count()
    print(f"# session bring-up: {time.perf_counter() - t0:.3f}s", file=sys.stderr)

    cold: dict[str, float] = {}
    for name in names:  # warm-up pass (untimed headline; cold recorded apart)
        t0 = time.perf_counter()
        QUERIES[name].fn(spark, sf_dir).count()
        cold[name] = round(time.perf_counter() - t0, 3)
        print(f"# cold {name}: {cold[name]:.3f}s", file=sys.stderr)
        release_all_caches()
        gc.collect()

    # pre-calibration sits AFTER the cold pass (JVM fully warmed) so the
    # pre/post pair brackets exactly the timed window it normalizes —
    # sampled before the cold pass it reads C2 compilation, not the box
    cal_pre = _calibration_sec(spark, sf_dir)
    print(f"# calibration (pre): {cal_pre:.4f}s", file=sys.stderr)

    # timed steady-state: best of 2, a THIRD run for queries whose best is
    # still > 0.5s, and a FOURTH for > 1.5s — the driver's r7 number was
    # 1.4x a same-protocol local rerun (shared-box load noise); the handful
    # of expensive queries dominate that swing (observed r9: ±15% between
    # same-code best-of-3 runs on the heaviest), and extra samples on just
    # those cost seconds while stabilizing the headline
    times: dict[str, float] = {}
    total = 0.0
    for name in names:
        best, n = None, 0
        runs = 0
        while (
            runs < 2
            or (runs < 3 and best > 0.5)
            or (runs < 4 and best > 1.5)
        ):
            t0 = time.perf_counter()
            df = QUERIES[name].fn(spark, sf_dir)
            n = df.count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            runs += 1
        times[name] = round(best, 3)
        total += best
        print(f"# {name}: {best:.3f}s ({n} rows, {runs} runs)", file=sys.stderr)
        release_all_caches()
        gc.collect()

    cal_post = _calibration_sec(spark, sf_dir)
    print(f"# calibration (post): {cal_post:.4f}s", file=sys.stderr)

    # --- same-session A/B drift check (round-9 verdict ask #2) -----------
    # Round-over-round per-query deltas have been swamped by box noise
    # (12 untouched queries drifted +15-35% in r9; same-code totals moved
    # 25 -> 29s across one day).  When a headline query moves >15% vs the
    # PRIOR round's recorded JSON, re-time the prior round's commit in a
    # worktree NOW — same machine state, minutes apart — so the
    # environment term cancels: prior-code-now ≈ current-code-now means
    # the recorded delta was drift; prior-code-now reproducing its old
    # number while current code is slower means a real regression.
    # Results land in BENCH_DETAIL.json["ab_check"]; disable with
    # SPARK_GRAFT_AB=0.
    ab_check = None
    if os.environ.get("SPARK_GRAFT_AB", "1") != "0":
        try:
            ab_check = _ab_drift_check(
                names, times, sf_dir, spark.sparkContext.defaultParallelism
            )
        except Exception as e:  # the A/B is diagnostics, never a bench failure
            print(f"# ab_check failed: {e}", file=sys.stderr)
            ab_check = {"error": str(e)}

    # The driver captures only the TAIL of stdout (~2,000 chars) and parses
    # the last line as JSON.  Round 5's line — warm + cold + the full sf1
    # ladder — overflowed that capture and the driver recorded
    # "parsed": null, so the headline payload is now the MINIMAL contract
    # dict only; cold and sf1 detail go to stderr (per-query lines) and the
    # BENCH_DETAIL.json sidecar next to this script.
    payload = {
        "metric": "headline_suite_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }
    cal_mean = (cal_pre + cal_post) / 2
    detail = {
        **payload,
        "cold_queries": cold,
        "cold_value": round(sum(cold.values()), 3),
        # box-drift normalization: headline in units of the pinned
        # calibration workload.  Compare THIS across rounds, not raw
        # seconds; pre/post spread also measures intra-run box drift.
        "calibration": {
            "pre_sec": cal_pre,
            "post_sec": cal_post,
            "intra_run_drift": round(abs(cal_post - cal_pre) / cal_mean, 3),
        },
        "normalized_headline": round(total / cal_mean, 2),
    }
    if ab_check is not None:
        detail["ab_check"] = ab_check

    # --- scale ladder: the most expensive queries at 10× the data --------
    # Answers the question correctness can't: does the cost curve stay
    # linear at the next scale step (AQE re-plan, skew, shuffle sizing)?
    # scale_ratio = t_sf1 / (factor × t_sf0.1); 1.0 = perfectly linear
    # scaling, < 1 = sublinear (fixed costs amortizing), > 1.2 = super-
    # linear and worth a look.  Generated corpus is cached in .bench_sf1/
    # (deterministic key-shifted replicas; tools/scale_corpus.py).
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0" and sf == 0.1:
        from tools.scale_corpus import ensure_scaled

        factor = 10
        # full bench set (round-4 verdict ask #5): super-linear drift in
        # ANY headline query is visible, not just the 8 heaviest
        ladder = list(names)
        sf1_dir = ensure_scaled(
            spark, sf_dir, factor, str(Path(_REPO) / ".bench_sf1")
        )
        times1: dict[str, float] = {}
        ratios: dict[str, float] = {}
        for name in ladder:  # warm-up pass
            QUERIES[name].fn(spark, sf1_dir).count()
            release_all_caches()
            gc.collect()
        for name in ladder:
            best, n = None, 0
            for _ in range(2):
                t0 = time.perf_counter()
                n = QUERIES[name].fn(spark, sf1_dir).count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            release_all_caches()
            gc.collect()
            times1[name] = round(best, 3)
            ratios[name] = round(best / (factor * times[name]), 3)
            print(
                f"# sf1 {name}: {best:.3f}s ({n} rows, "
                f"{ratios[name]:.2f}x linear)",
                file=sys.stderr,
            )
        detail["sf1"] = {
            "factor": factor,
            "value": round(sum(times1.values()), 3),
            "queries": times1,
            "scale_ratio": ratios,
        }
        print(
            f"# sf1 total: {detail['sf1']['value']:.3f}s over {len(ladder)} "
            f"queries, worst linear ratio "
            f"{max(ratios.values()):.3f}x ({max(ratios, key=ratios.get)})",
            file=sys.stderr,
        )

    with open(Path(_REPO) / "BENCH_DETAIL.json", "w") as fh:
        json.dump(detail, fh, indent=1)
    line = json.dumps(payload)
    if len(line) >= 1900:  # never hand the driver a truncated dict: the
        # per-query map is in BENCH_DETAIL.json; the headline number survives
        payload["queries"] = {"see": "BENCH_DETAIL.json"}
        line = json.dumps(payload)
    print(line)


if __name__ == "__main__":
    main()
