#!/usr/bin/env python3
"""Benchmark: time from input to a complete, oracle-checked result.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 12 --trace 0

Run from the repository root.  One process generates the workload's inputs
from ``--seed`` (cached per seed and scale), brings up a Spark session with
the engine's ``get_spark`` defaults on ``local[<cpus>]``, computes every
query's expected rows with its DuckDB oracle, then runs passes over the
workload's query list with one closed-loop client: a cold pass, one
uncounted warm-up pass, then warm passes until ``--seconds`` have elapsed
(at least three; a traced run runs two or more of each kind).  A query in a
pass is built
(``QUERIES[name].fn``), planned (``executedPlan``), collected, and its
operator checkpoints are released (``caches.release_all_caches``); every
collected result is compared with the oracle outside the timed spans.  The
CPU time of the harness, the JVM and the Python workers is read from
``/proc`` just outside each query's timed span; the gated end-to-end
metrics are CPU times, the wall times are recorded beside them.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` interleaves
untraced and traced warm passes (untraced, traced, traced, untraced, ...)
and prints the per-layer metrics read from Spark's stores, plus
``trace_overhead_s``.  The last stdout line is one JSON
object; the full result (environment stamp, samples, exact counts) goes to
``perfbench/_work/results/``, the span tree of a traced run to
``perfbench/_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = HERE / "_work"
_MB = 1e6

# per-layer metric -> unit; BENCHMARK.json's per_layer list mirrors this
LAYER_UNITS = {
    "session.bringup_s": "s",
    "suite.build_s": "s",
    "suite.driver_s": "s",
    "operators.eager_jobs": "count",
    "operators.eager_job_s": "s",
    "operators.python_run_s": "s",
    "operators.python_init_s": "s",
    "operators.python_mb_sent": "MB",
    "operators.python_mb_returned": "MB",
    "operators.python_nodes": "count",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "plans.exchanges": "count",
    "plans.smj": "count",
    "plans.bhj": "count",
    "plans.bnlj": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_s": "s",
    "spark.idle_core_frac": "ratio",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "sources.read_mb": "MB",
    "sources.read_rows": "count",
    "sources.write_mb": "MB",
    "sources.write_rows": "count",
    "caches.held_mb": "MB",
    "caches.released": "count",
    "plancache.memo_entries": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.log_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.state_commit_ms": "ms",
    "trace_overhead_s": "s",
    "box.calib_s": "s",
    "peak_rss_mb": "MB",
}
# warm passes whose mean CPU time is pass_cpu_s; every run has at least these
CPU_PASSES = 3
# counters that must repeat exactly between traced and untraced passes
EXACT_COUNTS = (
    "spark.jobs",
    "spark.stages",
    "operators.eager_jobs",
    "streaming.batches",
    "plans.exchanges",
    "plans.smj",
    "plans.bhj",
    "plans.bnlj",
    "operators.python_nodes",
)


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# -- processes ---------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus those of its reaped children, in ticks."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in f[11:15])
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants (the
    JVM and the Python workers it forks).  A worker that exits is reaped by
    its parent, whose children's times then carry its CPU, so the sum only
    grows."""
    me = os.getpid()
    return sum(_cpu_ticks(p) for p in [me, *descendants(me)]) / os.sysconf("SC_CLK_TCK")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the JVM and
    the Python workers it forks), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            total = _rss_bytes(me) + sum(_rss_bytes(p) for p in descendants(me))
            self.peak = max(self.peak, total)
            self._stop_evt.wait(self.interval)

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=5)


def _reap_stale_runs() -> None:
    for d in WORK.glob("run-*"):
        try:
            pid = int(d.name.split("-", 1)[1])
        except ValueError:
            continue
        if not Path(f"/proc/{pid}").exists():
            shutil.rmtree(d, ignore_errors=True)


# -- statistics -----------------------------------------------------------------
def summary(xs: list[float]) -> dict:
    """Median, quartiles, sample count, and the highest percentile that has
    at least ten samples beyond it (None when there are too few)."""
    xs = sorted(xs)
    n = len(xs)
    q = statistics.quantiles(xs, n=4) if n >= 2 else [xs[0]] * 3
    tail = None
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            tail = {"p": p, "value": xs[min(n - 1, int(n * p / 100))]}
            break
    return {"median": statistics.median(xs), "q1": q[0], "q3": q[2], "n": n, "tail": tail}


# -- oracle ---------------------------------------------------------------------
def oracle_expected(queries, names, data_dir: Path) -> dict[str, tuple | Exception]:
    """Normalized DuckDB oracle rows per query (``tools.check.normalize``)."""
    import duckdb

    from ironbeam_spark.sources.io import TPCH_TABLES
    from tools.check import normalize

    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    out = {}
    for name in names:
        try:
            rel = con.execute(queries[name].oracle)
            cols = [d[0] for d in rel.description]
            out[name] = (sorted(cols), normalize(rel.fetchall(), cols))
        except Exception as e:  # a broken oracle fails the query, not the run
            out[name] = e
    con.close()
    return out


def matches(expected, rows, cols) -> bool:
    from tools.check import normalize

    if isinstance(expected, Exception):
        return False
    return (sorted(cols), normalize([tuple(r) for r in rows], cols)) == expected


# -- the run ----------------------------------------------------------------------
class Bench:
    def __init__(self, workload, data_dir: Path, run_dir: Path):
        self.wl = workload
        self.data = str(data_dir)
        self.run_dir = run_dir
        self.cpus = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    # session bring-up: everything a user pays before the first query runs
    def setup(self) -> None:
        t0 = time.perf_counter()
        from ironbeam_spark import caches, plancache
        from ironbeam_spark.session import get_spark
        from ironbeam_spark.suite import QUERIES

        self.import_s = time.perf_counter() - t0
        self.queries, self.caches, self.plancache = QUERIES, caches, plancache
        t1 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.read.parquet(f"{self.data}/region.parquet").count()
        self.spark.createDataFrame([(1,)], "a int").mapInArrow(
            lambda it: it, "a int"
        ).count()
        self.bringup_s = time.perf_counter() - t1
        self.setup_s = self.import_s + self.bringup_s

        from perfbench.sparkstats import ProgressListener, SparkStats

        self.stats = SparkStats(self.spark)
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)

    def calibrate(self) -> float:
        """Median of 3 runs of a pinned vanilla-Spark aggregate (no engine code)."""
        from pyspark.sql import functions as F

        q = (
            self.spark.read.parquet(f"{self.data}/lineitem.parquet")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity"),
                F.avg("l_extendedprice"),
                F.count_distinct("l_partkey"),
            )
        )
        ts = []
        for _ in range(4):
            t0 = time.perf_counter()
            q.collect()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts[1:])

    def stop(self) -> None:
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is None:
            return
        jvm_kids = descendants(os.getpid())
        spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 15
        for pid in jvm_kids:
            while Path(f"/proc/{pid}").exists() and time.time() < deadline:
                time.sleep(0.1)
            if Path(f"/proc/{pid}").exists():
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass

    # one query: build -> plan -> collect -> release
    def run_query(self, name: str, traced: bool, trace, pass_span) -> dict:
        from perfbench.sparkstats import (
            intervals_union, job_stats, phases_ms, plan_counts, stream_stats,
        )
        from perfbench.trace import ceil_ms, floor_ms

        st = self.stats
        self.listener.current = name
        if traced:
            st.mark_executions()
        df = rows = qe = plan = None
        held = 0.0
        err = None
        j0 = st.job_counter()
        c0 = tree_cpu_s()
        t0 = time.time()
        t1 = t2 = t3 = t0
        j1 = jp = j3 = j0
        try:
            df = self.queries[name].fn(self.spark, self.data)
            t1, j1 = time.time(), st.job_counter()
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan()
            t2, jp = time.time(), st.job_counter()
            rows = df.collect()
            t3, j3 = time.time(), st.job_counter()
            if traced:
                held = st.held_bytes()
        except Exception as e:  # counted as a failed execution; the run goes on
            err = e
            t1, t2, t3 = (max(t, t0) for t in (t1, t2, t3))
            j3 = st.job_counter()
        released = self.caches.release_all_caches()
        t4 = time.time()
        c4 = tree_cpu_s()
        j2 = st.job_counter()

        # ---- bookkeeping, outside the timed span -------------------------
        self.attempted += 1
        ok = err is None and matches(self.expected[name], rows, df.columns)
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {err!r}" if err else f"{name}: mismatch")
        st.drain_events()
        jobs = st.jobs(j0, j2)
        progress = self.listener.take(name)
        counts = {
            "spark.jobs": j2 - j0,
            "spark.stages": len(st.stages_run(jobs)),
            "operators.eager_jobs": j1 - j0,
            "streaming.batches": len(progress),
        }
        if plan is not None:
            for k, v in plan_counts(final_plan(plan)).items():
                counts["operators.python_nodes" if k == "python_nodes" else f"plans.{k}"] = v
        r = {"name": name, "wall_s": t4 - t0, "cpu_s": c4 - c0, "ok": ok, "counts": counts}
        if not traced:
            return r

        build_jobs = [j for j in jobs if j.job_id < j1]
        js, stages = job_stats(st, jobs)
        eager_ms = intervals_union(
            [(max(j.start_ms, t0 * 1e3), min(j.end_ms, t1 * 1e3)) for j in build_jobs]
        )
        py = st.python_metrics()
        ph = phases_ms(qe) if plan is not None else {}
        layer = {
            "suite.build_s": t1 - t0,
            "suite.driver_s": (t1 - t0) - eager_ms / 1e3,
            "operators.eager_job_s": eager_ms / 1e3,
            "operators.python_run_s": py["run_ms"] / 1e3,
            "operators.python_init_s": py["init_ms"] / 1e3,
            "operators.python_mb_sent": py["sent"] / _MB,
            "operators.python_mb_returned": py["returned"] / _MB,
            "plans.analysis_ms": ph.get("analysis", 0.0),
            "plans.optimization_ms": ph.get("optimization", 0.0),
            "plans.planning_ms": ph.get("planning", 0.0),
            "caches.held_mb": held / _MB,
            "caches.released": float(released),
        }
        for k in (
            "job_s", "tasks", "task_run_s", "task_cpu_s", "gc_s",
            "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
        ):
            layer[f"spark.{k}"] = js[k]
        for k in ("read_mb", "read_rows", "write_mb", "write_rows"):
            layer[f"sources.{k}"] = js[k]
        for k, v in stream_stats(progress).items():
            if k != "batches":
                layer[f"streaming.{k}"] = v
        r.update(layer=layer, skew=js["task_skew"], busy_ms=js["busy_core_ms"], job_wall_ms=js["wall_ms"])

        # ---- spans ---------------------------------------------------------
        q = trace.add("query", floor_ms(t0), ceil_ms(t4), pass_span, query=name)
        spans = {
            "build": trace.add("build", floor_ms(t0), ceil_ms(t1), q),
            "plan": trace.add("plan", floor_ms(t1), ceil_ms(t2), q),
            "action": trace.add("action", floor_ms(t2), ceil_ms(t3), q),
        }
        spans["release"] = trace.add("release", floor_ms(t3), ceil_ms(t4), q)
        stage_by_id = {s.stage_id: s for s in stages}
        placed = set()
        for j in jobs:
            phase = (
                "build" if j.job_id < j1
                else "plan" if j.job_id < jp
                else "action" if j.job_id < j3
                else "release"
            )
            parent = spans[phase]
            js_id = trace.add("job", j.start_ms, j.end_ms, parent, job_id=j.job_id)
            for sid in j.stage_ids:
                s = stage_by_id.get(sid)
                if s is None or sid in placed:
                    continue
                placed.add(sid)
                trace.add("stage", s.start_ms, s.end_ms, js_id, stage_id=sid)
        for p in progress:
            start = _iso_ms(p.timestamp)
            trace.add(
                "micro_batch",
                start,
                start + (p.durationMs or {}).get("triggerExecution", 0),
                spans["build"],
                batch_id=p.batchId,
            )
        return r

    def run_pass(self, kind: str, traced: bool, trace) -> dict:
        from perfbench.trace import ceil_ms, floor_ms

        t0 = time.time()
        span = trace.add("pass", 0.0, 0.0, trace.root, kind=kind) if traced else None
        qs = [self.run_query(n, traced, trace, span) for n in self.wl.queries]
        if traced:
            trace.spans[span]["start_ms"] = floor_ms(t0)
            trace.spans[span]["end_ms"] = ceil_ms(time.time())
        p = {
            "kind": kind,
            "traced": traced,
            "wall_s": sum(q["wall_s"] for q in qs),
            "cpu_s": sum(q["cpu_s"] for q in qs),
            "queries": {q["name"]: round(q["wall_s"], 6) for q in qs},
            "queries_cpu_s": {q["name"]: round(q["cpu_s"], 2) for q in qs},
            "counts": {q["name"]: q["counts"] for q in qs},
        }
        if traced:
            layer: dict[str, float] = {}
            for q in qs:
                for k, v in q["layer"].items():
                    layer[k] = layer.get(k, 0.0) + v
                for k in EXACT_COUNTS:
                    layer[k] = layer.get(k, 0.0) + q["counts"].get(k, 0)
            busy = sum(q["busy_ms"] for q in qs)
            wall = sum(q["job_wall_ms"] for q in qs)
            layer["spark.idle_core_frac"] = 1 - busy / (self.cpus * wall) if wall else 0.0
            layer["spark.task_skew"] = max(q["skew"] for q in qs)
            layer["plancache.memo_entries"] = float(
                len(self.plancache._EXPR_MEMO)
                + sum(len(d) for d in list(self.plancache._SESSION_MEMO.values()))
            )
            p["layer"] = layer
        return p


def final_plan(plan) -> str:
    """Tree string of the plan that ran: AQE's current plan, without the
    ``Initial Plan`` section its own string appends after execution."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


def _iso_ms(ts: str) -> float:
    from datetime import datetime, timezone

    dt = datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1e3


def env_stamp(spark, cpus: int) -> dict:
    import platform

    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    return {
        "cpus": cpus,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "commit": commit,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="ironbeam-spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale")
    ap.add_argument("--passes", type=int, default=None, help="fixed warm-pass count instead of --seconds")
    ap.add_argument("--out", default=None, help="result JSON path")
    args = ap.parse_args(argv)

    if not (REPO / "ironbeam_spark" / "suite").is_dir() or not (REPO / "tools" / "check.py").is_file():
        _die(f"engine sources not found under {REPO}; run from a full checkout")
    sys.path.insert(0, str(REPO))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _die(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else wl.sf

    # run hygiene: every temp file, Spark local dir and stream checkpoint of
    # this run lives under one directory that is removed at exit
    WORK.mkdir(exist_ok=True)
    _reap_stale_runs()
    run_dir = WORK / f"run-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    (run_dir / "local").mkdir()
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    tempfile.tempdir = None
    # every JVM (spark-submit's launcher and the driver) keeps its temp files
    # and no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'} -Dderby.system.home={run_dir}"
    )
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)

    from perfbench.gen import ensure_inputs, input_stats
    from perfbench.trace import Trace, ceil_ms, floor_ms

    data_dir = ensure_inputs(args.seed, sf, WORK / "data")
    in_bytes, in_rows = input_stats(data_dir, wl.tables)

    bench = Bench(wl, data_dir, run_dir)
    # RSS is a per-layer metric: the sampler scans /proc from the driver
    # process, so it runs only in traced runs, off the end-to-end timings
    sampler = RssSampler() if args.trace else None
    trace = Trace(f"{wl.name}-seed{args.seed}-{os.getpid()}")
    trace.root = trace.add("run", floor_ms(time.time()), 0.0, None, workload=wl.name)
    try:
        if sampler:
            sampler.start()
        bench.setup()
        env = env_stamp(bench.spark, cpus)
        calib_pre = bench.calibrate()
        bench.expected = oracle_expected(bench.queries, wl.queries, data_dir)
        cold = bench.run_pass("cold", False, trace)
        # the first warm pass still pays most of the JIT and Python-worker
        # warm-up (often 1.3-1.8x a later pass); it is recorded, not counted
        warmup = bench.run_pass("warmup", False, trace)
        passes = []
        t_end = time.perf_counter() + args.seconds
        i = 0
        while True:
            # traced runs order passes untraced, traced, traced, untraced, ...
            # so the warm-up trend cancels out of trace_overhead_s
            traced = bool(args.trace) and i % 4 in (1, 2)
            passes.append(bench.run_pass("warm", traced, trace))
            i += 1
            n_plain = sum(not p["traced"] for p in passes)
            n_traced = len(passes) - n_plain
            # three warm samples for the median; a traced run needs two of
            # each kind, for the per-layer medians and trace_overhead_s
            enough = n_traced >= 2 and n_plain >= 2 if args.trace else n_plain >= CPU_PASSES
            if args.passes is not None:
                if i >= args.passes * (2 if args.trace else 1):
                    break
            elif enough and time.perf_counter() >= t_end:
                break
        calib_post = bench.calibrate()
    finally:
        bench.stop()
        if sampler:
            sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    plain = [p for p in passes if not p["traced"]]
    pass_sum = summary([p["wall_s"] for p in plain])
    # The JIT compiles in the background through the first ~10 passes and
    # its CPU counts, so a pass's CPU time falls from pass to pass.  How much
    # of that compile work lands in which pass depends on the host, but the
    # three passes' total barely does: pass_cpu_s is their mean, taken over
    # the same passes in every run.
    pass_cpu_s = statistics.fmean(p["cpu_s"] for p in plain[:CPU_PASSES])
    pass_s = pass_sum["median"]
    # The gate is CPU time.  On a shared 4-vCPU VM the wall time of a pass
    # moves with other tenants' load: over ten-run windows its interquartile
    # spread reached 0.43 of the median, past any usable bound, while CPU
    # time stayed steadier.  Wall times are still measured and recorded.
    e2e = {
        "setup_s": (bench.setup_s, "s"),
        "cold_cpu_s": (cold["cpu_s"], "s"),
        "pass_cpu_s": (pass_cpu_s, "s"),
        "ok_ratio": ((bench.attempted - bench.failed) / bench.attempted, "ratio"),
    }
    wall = {
        "cold_pass_s": cold["wall_s"],
        "pass_s": pass_s,
        "input_mb_per_s": in_bytes / _MB / pass_s,
    }
    result = {
        "workload": wl.name,
        "seed": args.seed,
        "sf": sf,
        "trace": args.trace,
        "env": env,
        "input": {"bytes": in_bytes, "rows": in_rows, "tables": list(wl.tables)},
        "load_model": "closed loop, 1 client",
        "setup": {"import_s": bench.import_s, "bringup_s": bench.bringup_s},
        "pass_s": pass_sum,
        "pass_cpu_s": summary([p["cpu_s"] for p in plain]),
        "box.calib_s": {"pre": calib_pre, "post": calib_post},
        "e2e": {k: v for k, (v, _) in e2e.items()},
        "wall": wall,
        "failures": bench.failures,
        "cold": cold,
        "warmup": warmup,
        "passes": passes,
    }
    if args.trace:
        traced_passes = [p for p in passes if p["traced"]]
        layer_names = sorted(traced_passes[0]["layer"])
        metrics = {
            k: (statistics.median(p["layer"][k] for p in traced_passes), LAYER_UNITS[k])
            for k in layer_names
        }
        metrics["session.bringup_s"] = (bench.bringup_s, "s")
        metrics["peak_rss_mb"] = (sampler.peak / _MB, "MB")
        metrics["box.calib_s"] = ((calib_pre + calib_post) / 2, "s")
        metrics["trace_overhead_s"] = (
            statistics.median(p["wall_s"] for p in traced_passes) - pass_s,
            "s",
        )
        result["layer"] = {k: v for k, (v, _) in metrics.items()}
        trace.spans[trace.root]["end_ms"] = ceil_ms(time.time())
        trace.write(WORK / "traces" / f"{trace.run_id}.json")
        result["trace_file"] = str(WORK / "traces" / f"{trace.run_id}.json")
    else:
        metrics = e2e

    out = Path(args.out) if args.out else (
        WORK / "results" / f"{wl.name}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    )
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(result, indent=1))

    print(
        f"# {wl.name} seed={args.seed} sf={sf:g} cpus={cpus}: setup {bench.setup_s:.3f}s, "
        f"cold {cold['wall_s']:.3f}s ({cold['cpu_s']:.2f} cpu-s), pass median {pass_s:.3f}s "
        f"(q1 {pass_sum['q1']:.3f}, q3 {pass_sum['q3']:.3f}, n={pass_sum['n']}, "
        f"tail {pass_sum['tail']}; {pass_cpu_s:.2f} cpu-s), "
        f"calib {calib_pre:.3f}/{calib_post:.3f}s -> {out}",
        file=sys.stderr,
    )
    for f in bench.failures:
        print(f"# FAIL {f}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
