"""Spark event-log parser: per-pass engine metrics and SQL plan metrics.

Reads the uncompressed, non-rolling JSON-lines log Spark writes when
``spark.eventLog.enabled`` is set.  Jobs are attributed to a benchmark
pass by their job description (``SparkContext.setJobDescription``):
the benchmark tags every job of pass ``i`` with ``"<prefix> <i> ..."``.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
_MB = 2**20


@dataclass
class Task:
    run_ms: int
    cpu_ns: int
    gc_ms: int
    spill_bytes: int
    shuffle_write: int
    shuffle_read: int


@dataclass
class EventLog:
    # job id -> (description, sql execution id or None, stage ids)
    jobs: dict = field(default_factory=dict)
    # stage id -> (submission ms, completion ms) of its last attempt
    stages: dict = field(default_factory=dict)
    tasks: dict = field(default_factory=dict)  # stage id -> [Task]
    accums: dict = field(default_factory=dict)  # accumulator id -> summed value
    plans: dict = field(default_factory=dict)  # sql execution id -> [plan info]


def _int(v) -> int:
    return int(float(v)) if v is not None else 0


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                log.jobs[e["Job ID"]] = (
                    props.get("spark.job.description") or "",
                    int(exec_id) if exec_id is not None else None,
                    list(e["Stage IDs"]),
                )
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if info.get("Submission Time") and info.get("Completion Time"):
                    log.stages[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if m:
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    log.tasks.setdefault(e["Stage ID"], []).append(
                        Task(
                            run_ms=m.get("Executor Run Time", 0),
                            cpu_ns=m.get("Executor CPU Time", 0),
                            gc_ms=m.get("JVM GC Time", 0),
                            spill_bytes=m.get("Disk Bytes Spilled", 0),
                            shuffle_write=wr.get("Shuffle Bytes Written", 0),
                            shuffle_read=rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                        )
                    )
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Metadata") == "sql":
                        log.accums[acc["ID"]] = log.accums.get(acc["ID"], 0) + _int(acc.get("Update"))
            elif kind == _SQL_DRIVER_ACCUM:
                for acc_id, value in e["accumUpdates"]:
                    log.accums[acc_id] = log.accums.get(acc_id, 0) + _int(value)
            elif kind in (_SQL_START, _SQL_AQE):
                log.plans.setdefault(e["executionId"], []).append(e["sparkPlanInfo"])
    return log


def jobs_tagged(log: EventLog, description: str) -> int:
    return sum(1 for desc, _, _ in log.jobs.values() if desc == description)


def _jobs_of_pass(log: EventLog, prefix: str, index: int) -> list[int]:
    want = [prefix, str(index)]
    return [j for j, (desc, _, _) in log.jobs.items() if desc.split()[:2] == want]


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def pass_metrics(log: EventLog, prefix: str, windows: list[tuple[int, int]]) -> dict[str, float]:
    """Engine metrics per pass, averaged over the passes.

    ``windows[i]`` is pass i's (start, end) wall clock in epoch ms.
    ``fixed_overhead_s`` is the pass wall time not covered by any of its
    stages (planning, codegen, scheduling, driver-side work);
    ``task_skew`` is the largest max/median task run time of any stage
    with at least four tasks, over all passes."""
    per_pass = []
    skew = 1.0
    for i, (w0, w1) in enumerate(windows):
        jobs = _jobs_of_pass(log, prefix, i)
        stage_ids = sorted({s for j in jobs for s in log.jobs[j][2] if s in log.stages})
        tasks = [t for s in stage_ids for t in log.tasks.get(s, [])]
        spans = [(max(w0, log.stages[s][0]), min(w1, log.stages[s][1])) for s in stage_ids]
        covered = _union_ms([(a, b) for a, b in spans if b > a])
        per_pass.append(
            {
                "jobs": len(jobs),
                "stages": len(stage_ids),
                "tasks": len(tasks),
                "task_run_s": sum(t.run_ms for t in tasks) / 1e3,
                "task_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
                "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
                "spill_mb": sum(t.spill_bytes for t in tasks) / _MB,
                "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / _MB,
                "shuffle_read_mb": sum(t.shuffle_read for t in tasks) / _MB,
                "fixed_overhead_s": (w1 - w0 - covered) / 1e3,
            }
        )
        for s in stage_ids:
            runs = [t.run_ms for t in log.tasks.get(s, [])]
            if len(runs) >= 4:
                skew = max(skew, max(runs) / max(1.0, statistics.median(runs)))
    out = {k: statistics.fmean(p[k] for p in per_pass) for k in per_pass[0]} if per_pass else {}
    out["task_skew"] = skew
    return out


def _metric_id(node: dict, name: str = "number of output rows"):
    for m in node.get("metrics", []):
        if m["name"] == name:
            return m["accumulatorId"]
    return None


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def _first_with_rows(node: dict):
    """The metric id of the nearest node at or under ``node`` (first
    child first) that counts its output rows."""
    while node is not None:
        acc = _metric_id(node)
        if acc is not None:
            return acc
        kids = node.get("children", [])
        node = kids[0] if kids else None
    return None


def probe_rows_per_output(log: EventLog, tag: str) -> float:
    """For broadcast hash joins in executions tagged ``tag``: rows fed
    into the probe (streamed) side divided by rows the join emitted.

    The join condition is evaluated inside the join, so this is the
    number of probe rows examined per output row."""
    exec_ids = {ex for desc, ex, _ in log.jobs.values() if ex is not None and tag in desc.split()}
    probe_ids, out_ids = set(), set()
    for ex in exec_ids:
        for plan in log.plans.get(ex, []):
            for node in _walk(plan):
                if node["nodeName"] != "BroadcastHashJoin" or len(node.get("children", [])) != 2:
                    continue
                stream = node["children"][1 if "BuildLeft" in node["simpleString"] else 0]
                out_acc, probe_acc = _metric_id(node), _first_with_rows(stream)
                if out_acc is not None and probe_acc is not None:
                    out_ids.add(out_acc)
                    probe_ids.add(probe_acc)
    out_rows = sum(log.accums.get(a, 0) for a in out_ids)
    probe_rows = sum(log.accums.get(a, 0) for a in probe_ids)
    return probe_rows / out_rows if out_rows else 0.0


def find_log(directory: str) -> str:
    """The single finished application log in ``directory``."""
    import os

    names = [n for n in os.listdir(directory) if not n.endswith(".inprogress") and not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, found {sorted(names)}")
    return os.path.join(directory, names[0])
