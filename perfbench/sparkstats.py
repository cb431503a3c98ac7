"""Read Spark's own stores from outside the engine.

Everything here uses the driver's public or developer surfaces through py4j:

- the DAG scheduler's job counter, so the jobs of one query are the ids
  submitted between two reads (one closed-loop client runs one query at a
  time, so every job in that range belongs to it, stream jobs included);
- the status store (``statusStore().job`` / ``lastStageAttempt`` /
  ``taskSummary``) for stage times, tasks, shuffle, spill, GC and I/O;
- the SQL status store for the Python-worker metrics of each execution;
- ``queryExecution().tracker()`` for Catalyst phase times;
- a ``StreamingQueryListener`` for micro-batch progress.
"""

from __future__ import annotations

import re
import threading
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

_NODE = re.compile(r"(?m)^[\s:|+\-*()\d]*([A-Z][A-Za-z]+)")
_PY_NODES = {
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "AggregateInPandas",
    "ArrowWindowPython",
    "WindowInPandas",
}
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_MB = 1e6


def plan_counts(plan: str) -> dict[str, int]:
    """Operator counts of one executed-plan tree string."""
    names = _NODE.findall(plan)
    return {
        "exchanges": names.count("Exchange"),
        "smj": names.count("SortMergeJoin"),
        "bhj": names.count("BroadcastHashJoin"),
        "bnlj": names.count("BroadcastNestedLoopJoin"),
        "python_nodes": sum(n in _PY_NODES for n in names),
    }


def phases_ms(qe) -> dict[str, float]:
    """Catalyst phase durations recorded on a QueryExecution's tracker."""
    ph = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        o = ph.get(k)
        out[k] = float(o.get().durationMs()) if o.isDefined() else 0.0
    return out


def _metric_value(text: str) -> float:
    """Total of an SQL metric's display string: bytes or milliseconds."""
    line = text.split("\n")[-1].split(" (")[0].strip()
    parts = line.split()
    if len(parts) != 2:
        return 0.0
    num, unit = float(parts[0].replace(",", "")), parts[1]
    if unit in _SIZE:
        return num * _SIZE[unit]
    return num * _TIME_MS.get(unit, 0.0)


def intervals_union(iv: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(iv):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


@dataclass
class JobInfo:
    job_id: int
    start_ms: int
    end_ms: int
    stage_ids: list[int]


@dataclass
class StageInfo:
    stage_id: int
    start_ms: int
    end_ms: int
    tasks: int
    run_ms: float
    cpu_ns: float
    gc_ms: float
    shuffle_read: float
    shuffle_write: float
    spill: float
    in_bytes: float
    in_rows: float
    out_bytes: float
    out_rows: float
    skew: float


class SparkStats:
    """Accessors over one live SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_exec = -1
        self._quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self.mark_executions()

    # -- jobs and stages -------------------------------------------------
    def job_counter(self) -> int:
        """Number of jobs submitted so far in this SparkContext."""
        return self._jsc.dagScheduler().numTotalJobs()

    def jobs(self, lo: int, hi: int) -> list[JobInfo]:
        """Jobs with ids in ``[lo, hi)`` that the status store still holds."""
        out = []
        for jid in range(lo, hi):
            try:
                j = self._store.job(jid)
            except Exception:  # evicted or never registered
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            ids, it = [], j.stageIds().iterator()
            while it.hasNext():
                ids.append(int(it.next()))
            out.append(
                JobInfo(jid, sub.get().getTime(), comp.get().getTime(), sorted(ids))
            )
        return out

    def stages_run(self, jobs: list[JobInfo]) -> list[int]:
        """Distinct stage ids that ran (not skipped) under ``jobs``."""
        seen, out = set(), []
        for j in jobs:
            for s in j.stage_ids:
                if s in seen:
                    continue
                seen.add(s)
                if self._store.lastStageAttempt(s).status().toString() != "SKIPPED":
                    out.append(s)
        return out

    def stage(self, sid: int) -> StageInfo | None:
        sd = self._store.lastStageAttempt(sid)
        sub, comp = sd.submissionTime(), sd.completionTime()
        if not (sub.isDefined() and comp.isDefined()):
            return None
        skew = 1.0
        ts = self._store.taskSummary(sid, sd.attemptId(), self._quantiles)
        if ts.isDefined():
            q = ts.get().executorRunTime()
            med, mx = float(q.apply(0)), float(q.apply(1))
            skew = mx / med if med > 0 else 1.0
        return StageInfo(
            sid,
            sub.get().getTime(),
            comp.get().getTime(),
            int(sd.numCompleteTasks()),
            float(sd.executorRunTime()),
            float(sd.executorCpuTime()),
            float(sd.jvmGcTime()),
            float(sd.shuffleReadBytes()),
            float(sd.shuffleWriteBytes()),
            float(sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
            float(sd.inputBytes()),
            float(sd.inputRecords()),
            float(sd.outputBytes()),
            float(sd.outputRecords()),
            skew,
        )

    def drain_events(self, timeout_ms: int = 60_000) -> None:
        """Wait until the listener bus has delivered every event posted so
        far: the status store and the stream listener are then up to date."""
        self._jsc.listenerBus().waitUntilEmpty(timeout_ms)

    # -- SQL executions: Python-worker metrics ----------------------------
    def mark_executions(self) -> None:
        """Forget executions so far; the next ``python_metrics`` sees later ones."""
        n = self._sql.executionsCount()
        if n:
            it = self._sql.executionsList(n - 1, 1).iterator()
            while it.hasNext():
                self._last_exec = max(self._last_exec, it.next().executionId())

    def python_metrics(self) -> dict[str, float]:
        """Python-worker metric totals of the SQL executions since the last mark."""
        out = {"run_ms": 0.0, "init_ms": 0.0, "sent": 0.0, "returned": 0.0}
        n = self._sql.executionsCount()
        it = self._sql.executionsList(max(0, n - 500), 500).iterator()
        last = self._last_exec
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            last = max(last, eid)
            wanted = {}
            mi = e.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                name = m.name()
                if "Python workers" not in name:
                    continue
                key = (
                    "run_ms" if name.startswith("time to run")
                    else "init_ms" if name.startswith("time to initialize")
                    else "sent" if name.startswith("data sent")
                    else "returned" if name.startswith("data returned")
                    else None
                )
                if key:
                    wanted[int(m.accumulatorId())] = key
            if not wanted:
                continue
            vi = self._sql.executionMetrics(eid).iterator()
            while vi.hasNext():
                kv = vi.next()
                key = wanted.get(int(kv._1()))
                if key:
                    out[key] += _metric_value(kv._2())
        self._last_exec = last
        return out

    # -- storage ------------------------------------------------------------
    def held_bytes(self) -> float:
        """Bytes of persisted/checkpointed blocks currently held."""
        return float(
            sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo())
        )


def job_stats(stats: SparkStats, jobs: list[JobInfo]) -> tuple[dict[str, float], list[StageInfo]]:
    """Spark-layer totals of a set of jobs, and their stages (traced runs only)."""
    stages = [s for s in (stats.stage(i) for i in stats.stages_run(jobs)) if s]
    wall = intervals_union([(j.start_ms, j.end_ms) for j in jobs])
    run = sum(s.run_ms for s in stages)
    totals = {
        "job_s": wall / 1e3,
        "tasks": float(sum(s.tasks for s in stages)),
        "task_run_s": run / 1e3,
        "task_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "shuffle_read_mb": sum(s.shuffle_read for s in stages) / _MB,
        "shuffle_write_mb": sum(s.shuffle_write for s in stages) / _MB,
        "spill_mb": sum(s.spill for s in stages) / _MB,
        "read_mb": sum(s.in_bytes for s in stages) / _MB,
        "read_rows": sum(s.in_rows for s in stages),
        "write_mb": sum(s.out_bytes for s in stages) / _MB,
        "write_rows": sum(s.out_rows for s in stages),
        "task_skew": max((s.skew for s in stages if s.tasks > 1), default=1.0),
        "busy_core_ms": run,
        "wall_ms": wall,
    }
    return totals, stages


class ProgressListener(StreamingQueryListener):
    """Collects micro-batch progress per streaming run.

    The caller sets ``current`` to the running benchmark query and drains the
    listener bus before the next query starts, so every run's start event is
    bound to the query that started it; the progress events that follow are
    attributed by run id, never by arrival order.
    """

    def __init__(self):
        self.current = ""
        self._lock = threading.Lock()
        self._query: dict[str, str] = {}  # run id -> benchmark query
        self._progress: dict[str, list] = {}  # run id -> progress events

    def onQueryStarted(self, event):
        with self._lock:
            self._query[str(event.runId)] = self.current
            self._progress[str(event.runId)] = []

    def onQueryProgress(self, event):
        with self._lock:
            self._progress.get(str(event.progress.runId), []).append(event.progress)

    def onQueryTerminated(self, event):
        pass

    def take(self, query: str) -> list:
        """Progress of ``query``'s runs; call after the listener bus drained."""
        with self._lock:
            mine = [r for r, q in self._query.items() if q == query]
            out = []
            for r in mine:
                del self._query[r]
                out.extend(self._progress.pop(r))
        return out


def stream_stats(progress: list) -> dict[str, float]:
    out = dict.fromkeys(
        (
            "batches", "input_rows", "trigger_ms", "add_batch_ms",
            "query_planning_ms", "log_commit_ms", "state_rows", "state_mb",
            "state_commit_ms",
        ),
        0.0,
    )
    for p in progress:
        d = p.durationMs or {}
        out["batches"] += 1
        out["input_rows"] += p.numInputRows or 0
        out["trigger_ms"] += d.get("triggerExecution", 0)
        out["add_batch_ms"] += d.get("addBatch", 0)
        out["query_planning_ms"] += d.get("queryPlanning", 0)
        out["log_commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        for s in p.stateOperators or []:
            out["state_rows"] += s.numRowsTotal
            out["state_mb"] += s.memoryUsedBytes / _MB
            out["state_commit_ms"] += s.commitTimeMs
    return out
