"""Per-query layer accounting read from Spark's public status stores.

Nothing here runs inside the package: the benchmark times its own calls
into the package and, after each query, reads what Spark recorded:

- the core status store (``SparkContext.statusStore``): jobs, their
  stages and the stages' task metrics;
- the SQL status store (``SharedState.statusStore``): one entry per SQL
  execution, with its plan graph and formatted plan metrics (Python UDF
  metrics, state-store metrics of streaming micro-batches).

Both stores keep only about 1000 jobs and executions, so a reader takes
everything newer than what it saw last, right after each query. That also
catches micro-batch jobs, which run on the stream's own thread and so
outside the caller's job group.
"""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass

# counts that must repeat exactly between two traced runs on one seed
COUNT_KEYS = (
    "engine.jobs",
    "engine.stages",
    "engine.tasks",
    "engine.shuffle_read_bytes",
    "engine.shuffle_write_bytes",
    "engine.result_rows",
)

# every per-layer metric the traced run reports, with its unit
UNITS = {
    "session.start_s": "s",
    "sources.register_s": "s",
    "sources.input_rows": "count",
    "sources.input_bytes": "B",
    "sources.output_rows": "count",
    "sources.output_bytes": "B",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "engine.plan_s": "s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.failed_tasks": "count",
    "engine.job_busy_s": "s",
    "engine.driver_gap_s": "s",
    "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.occupancy": "ratio",
    "engine.shuffle_read_bytes": "B",
    "engine.shuffle_write_bytes": "B",
    "engine.spill_bytes": "B",
    "engine.result_rows": "count",
    "engine.collect_tail_s": "s",
    "engine.peak_rss_mb": "MB",
    "functions.python_rows": "count",
    "functions.python_total_s": "s",
    "functions.python_boot_s": "s",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "trace.overhead": "ratio",
}

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def _formatted_total(text: str | None) -> float:
    """First number of a formatted SQL metric (``'1,000'``, ``'7.0 s'``, or
    ``'total (min, med, max ...)\\n1.4 s (...)'``); times in seconds."""
    if not text:
        return 0.0
    line = text.split("\n")[-1]
    m = re.match(r"\s*(-?[\d,]*\.?\d+)\s*([a-zA-Z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


@dataclass
class QueryTrace:
    """What one query run did, split by layer."""

    name: str
    layers: dict[str, float]
    batch_ms: list[float]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of ``(start_ms, end_ms)`` intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is not None and a <= cur_b:
            cur_b = max(cur_b, b)
            continue
        if cur_b is not None:
            total += cur_b - cur_a
        cur_a, cur_b = a, b
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3


class StatusReader:
    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jsc = sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.last_job = -1
        self.last_exec = -1
        self.sync()

    def _drain(self) -> None:
        # status listeners run on the listener bus; wait until it has
        # delivered every event of the query just finished
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    @staticmethod
    def _newer(seq, key, after: int) -> list:
        """Entries of a Scala Seq with ``key(entry) > after``, walking in
        from the newest end (the stores list in id order, either way)."""
        n = seq.size()
        if n == 0:
            return []
        step = 1 if key(seq.apply(0)) >= key(seq.apply(n - 1)) else -1
        out, i = [], 0 if step == 1 else n - 1
        while 0 <= i < n:
            item = seq.apply(i)
            if key(item) <= after:
                break
            out.append(item)
            i += step
        return out

    def _new_jobs(self):
        return self._newer(self._jsc.statusStore().jobsList(None), lambda j: j.jobId(), self.last_job)

    def _new_execs(self):
        return self._newer(self._sql.executionsList(), lambda e: e.executionId(), self.last_exec)

    def sync(self) -> None:
        """Skip everything recorded so far (untraced work between reads)."""
        self._drain()
        self.last_job = max([j.jobId() for j in self._new_jobs()], default=self.last_job)
        self.last_exec = max([e.executionId() for e in self._new_execs()], default=self.last_exec)

    def _stage_sums(self, stage_ids: set[int]) -> dict[str, float]:
        store = self._jsc.statusStore()
        empty = self._gw.new_array(self._gw.jvm.double, 0)
        tot = dict.fromkeys(
            (
                "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "in_rows", "in_bytes",
                "out_rows", "out_bytes", "shuffle_read", "shuffle_write", "spill",
            ),
            0.0,
        )
        for sid in stage_ids:
            attempts = store.stageData(sid, False, self._gw.jvm.java.util.ArrayList(), False, empty)
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if s.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                tot["failed_tasks"] += s.numFailedTasks()
                tot["run_s"] += s.executorRunTime() / 1e3
                tot["cpu_s"] += s.executorCpuTime() / 1e9
                tot["in_rows"] += s.inputRecords()
                tot["in_bytes"] += s.inputBytes()
                tot["out_rows"] += s.outputRecords()
                tot["out_bytes"] += s.outputBytes()
                tot["shuffle_read"] += s.shuffleReadBytes()
                tot["shuffle_write"] += s.shuffleWriteBytes()
                tot["spill"] += s.diskBytesSpilled()
        return tot

    def _sql_sums(self, execs) -> tuple[dict[str, float], list[float]]:
        """Python-UDF and state-store plan metrics summed over executions,
        and the duration of every streaming micro-batch in ms."""
        out = dict.fromkeys(("py_rows", "py_total", "py_boot", "commit_ms", "state_rows"), 0.0)
        batches: dict[str, list[int]] = {}
        for e in execs:
            desc = e.description() or ""
            m = re.search(r"runId = (\S+)\nbatch = (\d+)", desc)
            if m:
                ct = e.completionTime()
                end = ct.get().getTime() if ct.isDefined() else e.submissionTime()
                span = batches.setdefault(f"{m.group(1)}/{m.group(2)}", [e.submissionTime(), end])
                span[0], span[1] = min(span[0], e.submissionTime()), max(span[1], end)
            values = self._sql.executionMetrics(e.executionId())
            nodes = self._sql.planGraph(e.executionId()).allNodes()
            for i in range(nodes.size()):
                metrics = nodes.apply(i).metrics()
                named = {}
                for j in range(metrics.size()):
                    pm = metrics.apply(j)
                    v = values.get(pm.accumulatorId())
                    named[pm.name()] = _formatted_total(v.get() if v.isDefined() else None)
                if "time to run Python workers" in named:
                    out["py_total"] += named["time to run Python workers"]
                    out["py_boot"] += named.get("time to start Python workers", 0.0)
                    out["py_rows"] += named.get("number of output rows", 0.0)
                if "time to commit changes" in named:
                    out["commit_ms"] += 1e3 * named["time to commit changes"]
                    out["state_rows"] += named.get("number of total state rows", 0.0)
        return out, [float(b - a) for a, b in batches.values()]

    def read(
        self, name: str, t0_ms: float, build_ms: float, end_ms: float, plan_s: float, rows: int
    ) -> QueryTrace:
        """Account for every job and SQL execution since the last read.
        ``*_ms`` are wall-clock epoch milliseconds of query start, of the
        query callable's return, and of the collect's return."""
        self._drain()
        jobs = self._new_jobs()
        execs = self._new_execs()
        self.last_job = max([j.jobId() for j in jobs], default=self.last_job)
        self.last_exec = max([e.executionId() for e in execs], default=self.last_exec)

        intervals, stage_ids, build_jobs = [], set(), 0
        for j in jobs:
            start = j.submissionTime().get().getTime() if j.submissionTime().isDefined() else t0_ms
            ct = j.completionTime()
            end = ct.get().getTime() if ct.isDefined() else end_ms
            intervals.append((start, end))
            build_jobs += start <= build_ms
            seq = j.stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        busy_s = _union_s(intervals)
        wall_s = (end_ms - t0_ms) / 1e3
        st = self._stage_sums(stage_ids)
        sq, batch_ms = self._sql_sums(execs)
        last_end = max((b for _, b in intervals), default=end_ms)
        layers = {
            "operators.build_s": (build_ms - t0_ms) / 1e3,
            "operators.build_jobs": float(build_jobs),
            "engine.plan_s": plan_s,
            "engine.jobs": float(len(jobs)),
            "engine.stages": st["stages"],
            "engine.tasks": st["tasks"],
            "engine.failed_tasks": st["failed_tasks"],
            "engine.job_busy_s": busy_s,
            "engine.driver_gap_s": wall_s - busy_s,
            "engine.executor_run_s": st["run_s"],
            "engine.executor_cpu_s": st["cpu_s"],
            "engine.shuffle_read_bytes": st["shuffle_read"],
            "engine.shuffle_write_bytes": st["shuffle_write"],
            "engine.spill_bytes": st["spill"],
            "engine.result_rows": float(rows),
            "engine.collect_tail_s": (end_ms - last_end) / 1e3,
            "sources.input_rows": st["in_rows"],
            "sources.input_bytes": st["in_bytes"],
            "sources.output_rows": st["out_rows"],
            "sources.output_bytes": st["out_bytes"],
            "functions.python_rows": sq["py_rows"],
            "functions.python_total_s": sq["py_total"],
            "functions.python_boot_s": sq["py_boot"],
            "streaming.batches": float(len(batch_ms)),
            "streaming.state_commit_ms": sq["commit_ms"],
            "streaming.state_rows": sq["state_rows"],
        }
        return QueryTrace(name, layers, batch_ms)


def pass_layers(traces: list[QueryTrace]) -> dict[str, float]:
    """Per-pass totals of one traced pass, plus the derived ratios."""
    tot: dict[str, float] = {}
    for t in traces:
        for k, v in t.layers.items():
            tot[k] = tot.get(k, 0.0) + v
    batch_ms = [b for t in traces for b in t.batch_ms]
    tot["streaming.batch_ms_p50"] = statistics.median(batch_ms) if batch_ms else 0.0
    return tot


def occupancy(run_s: float, busy_s: float, cores: int) -> float:
    """Executor run time over the cores the busy intervals offered."""
    return run_s / (busy_s * cores) if busy_s > 0 else 0.0
