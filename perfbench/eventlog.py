"""Reader for Spark's JSON event log (``spark.eventLog.compress=false``).

The benchmark tags the jobs it starts (``SparkSession.addTag``) and reads
the log once its traced iterations are over. Everything here is plain stdlib: a log
is a JSON-lines file, or a directory of them (the rolling ``eventlog_v2``
layout), and the result is a :class:`Log` that can answer "what did the
jobs carrying tag X cost": stage spans, task metrics, SQL plan metrics.

Times in the log are JVM wall-clock milliseconds, the same clock as
Python's ``time.time()`` on the driver host, so a span recorded in
Python can be compared with the stages that ran inside it.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field

# user tags arrive as "spark-session-<uuid>-thread-<uuid>-<tag>"
_TAG_RE = re.compile(r"-thread-[0-9a-f-]{36}-(.+)$")

# plan-node patterns (matched against the node's simpleString)
JOIN_NODE = r"^(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)"


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int = 0
    tags: frozenset = frozenset()
    stage_ids: tuple = ()
    execution_id: int | None = None


@dataclass
class Stage:
    id: int
    submit_ms: int = 0
    complete_ms: int = 0
    tasks: list = field(default_factory=list)  # one dict per finished task


@dataclass
class PlanMetric:
    execution_id: int
    simple: str  # the plan node's simpleString, e.g. "BroadcastHashJoin [k#1L], ..."
    name: str


def _user_tags(raw: str) -> frozenset:
    out = set()
    for t in (raw or "").split(","):
        m = _TAG_RE.search(t)
        if m:
            out.add(m.group(1))
    return frozenset(out)


def _log_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(".") or f.endswith(".crc") or f.startswith("appstatus"):
                continue
            found.append(os.path.join(root, f))

    def order(p: str) -> tuple:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0)

    return sorted(found, key=order)


def _walk_plan(info: dict, execution_id: int, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = PlanMetric(execution_id, info.get("simpleString", ""), m["name"])
    for child in info.get("children", []):
        _walk_plan(child, execution_id, out)


class Log:
    """Parsed event log: jobs, stages with their tasks, SQL metrics."""

    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.plan_metrics: dict[int, PlanMetric] = {}
        self.executions: dict[int, list] = {}  # SQL execution id -> [start_ms, end_ms]
        self.acc_values: dict[int, int] = {}
        for f in _log_files(path):
            with open(f) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = Job(
                id=e["Job ID"],
                submit_ms=e["Submission Time"],
                tags=_user_tags(props.get("spark.job.tags", "")),
                stage_ids=tuple(e.get("Stage IDs", ())),
                execution_id=int(ex) if ex is not None else None,
            )
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit_ms = info.get("Submission Time") or 0
            st.complete_ms = info.get("Completion Time") or 0
            # a stage reports each accumulator's running total; keep the
            # largest (SQL metrics only grow)
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    try:
                        self._acc(acc["ID"], int(acc["Value"]))
                    except (TypeError, ValueError):
                        continue
        elif kind == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            if info.get("Failed") or info.get("Killed") or not tm:
                return
            sr = tm.get("Shuffle Read Metrics", {})
            sw = tm.get("Shuffle Write Metrics", {})
            out = tm.get("Output Metrics", {})
            self.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"])).tasks.append({
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                "peak_mem": tm.get("Peak Execution Memory", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "bytes_written": out.get("Bytes Written", 0),
                "records_written": out.get("Records Written", 0),
            })
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            _walk_plan(e.get("sparkPlanInfo") or {}, e["executionId"], self.plan_metrics)
            if kind.endswith("Start"):
                self.executions[e["executionId"]] = [e["time"], 0]
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if e["executionId"] in self.executions:
                self.executions[e["executionId"]][1] = e["time"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, v in e.get("accumUpdates", []):
                self._acc(acc_id, int(v))

    def _acc(self, acc_id: int, value: int) -> None:
        self.acc_values[acc_id] = max(self.acc_values.get(acc_id, 0), value)

    # ------------------------------------------------------------ selection

    def jobs_for(self, tag: str, windows: list[tuple[float, float]]) -> list[Job]:
        """Jobs carrying ``tag``, plus jobs submitted inside one of the
        Python-measured ``windows`` (seconds) of the block that set it:
        tags are thread-local, so jobs the library starts from its own
        threads (e.g. iceberg_lite.run_stage's bucket pool) lack them."""
        ms = [(s * 1000, e * 1000) for s, e in windows]
        return [
            j for j in self.jobs.values()
            if tag in j.tags or any(s <= j.submit_ms <= e for s, e in ms)
        ]

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        """Stages that ran for these jobs (skipped stages never complete)."""
        ids = {s for j in jobs for s in j.stage_ids}
        return [self.stages[s] for s in sorted(ids) if s in self.stages and self.stages[s].complete_ms]

    def plan_metric(self, jobs: list[Job], name: str, node: str) -> list[int]:
        """Values of SQL metric ``name`` on the plan nodes whose
        simpleString matches regex ``node``, in the SQL executions these
        jobs ran for; one value per node instance that ran."""
        pat = re.compile(node)
        executions = {j.execution_id for j in jobs}
        return [
            self.acc_values[acc]
            for acc, pm in self.plan_metrics.items()
            if pm.execution_id in executions and pm.name == name
            and acc in self.acc_values and pat.search(pm.simple)
        ]


def union_ms(spans: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def stage_summary(stages: list[Stage]) -> dict:
    """Executor-side totals for a set of stages, plus the task skew of
    the longest stage (longest task / median task, by executor run
    time)."""
    tasks = [t for s in stages for t in s.tasks]
    skew = 1.0
    if stages:
        longest = max(stages, key=lambda s: s.complete_ms - s.submit_ms)
        runs = [t["run_ms"] for t in longest.tasks]
        if runs and statistics.median(runs) > 0:
            skew = max(runs) / statistics.median(runs)
    return {
        "span_s": union_ms([(s.submit_ms, s.complete_ms) for s in stages]) / 1000.0,
        "stages": len(stages),
        "tasks": len(tasks),
        "executor_run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
        "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "spill_bytes": sum(t["spill"] for t in tasks),
        "peak_exec_mem_bytes": max((t["peak_mem"] for t in tasks), default=0),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "bytes_written": sum(t["bytes_written"] for t in tasks),
        "records_written": sum(t["records_written"] for t in tasks),
        "task_skew": skew,
    }


def log_wall_ms(log: Log, jobs: list[Job]) -> int:
    """From the first start to the last end of these jobs and of the SQL
    executions they ran for, by the log's own clock: how long the block
    that started them took, as far as the log can see."""
    spans = [(j.submit_ms, j.end_ms) for j in jobs]
    spans += [tuple(log.executions[j.execution_id]) for j in jobs if j.execution_id in log.executions]
    if not spans:
        return 0
    return max(e for _, e in spans) - min(s for s, _ in spans)


def window_summary(log: Log, tag: str, start_s: float, end_s: float) -> dict:
    """Stage summary of the jobs of the block tagged ``tag`` that ran
    over [start_s, end_s], plus its driver gap: the part of that window
    not covered by any of their stage spans (planning, codegen, AQE
    re-planning, py4j, result collection). ``log_gap_s`` is the same gap
    read from the log alone (first job or SQL execution start to last
    end, minus the stage spans); it leaves out driver time before the
    first execution starts and after the last one ends."""
    jobs = log.jobs_for(tag, [(start_s, end_s)])
    summary = stage_summary(log.stages_of(jobs))
    summary["jobs"] = len(jobs)
    summary["wall_s"] = end_s - start_s
    summary["driver_gap_s"] = summary["wall_s"] - summary["span_s"]
    summary["log_gap_s"] = log_wall_ms(log, jobs) / 1000.0 - summary["span_s"]
    return summary
