"""Read a Spark event log (uncompressed JSON lines) into per-phase layer metrics.

The benchmark tags every phase it runs with ``setJobDescription(tag)``;
Spark copies that description onto each SQL execution and job it starts
(run_pipeline's group-job threads inherit it). This module groups the
log's SQL executions, jobs, stages and tasks by tag and sums the
operator SQL metrics of each tag's plans:

* SQL metric values are summed from task accumulator updates plus
  driver-side accumulator updates (broadcast builds, file listing);
* node counts (broadcast joins, broadcast exchanges) come from each
  execution's final adaptive plan;
* task times, CPU time, GC time and spill come from ``SparkListenerTaskEnd``.
"""

from __future__ import annotations

import hashlib
import json
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Execution:
    id: int
    tag: str
    start_ms: int
    end_ms: int | None = None
    plan: dict | None = None  # final (adaptive) plan tree
    plan_text: str = ""  # final (adaptive) plan description
    initial_text: str = ""  # plan description before any runtime re-planning
    #: accumulator id -> (node name, metric name, metric type, node metadata)
    metrics: dict[int, tuple[str, str, str, dict]] = field(default_factory=dict)


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    metrics: dict


@dataclass
class EventLog:
    executions: dict[int, Execution] = field(default_factory=dict)
    #: job id -> (tag, execution id or None, stage ids)
    jobs: dict[int, tuple[str, int | None, list[int]]] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    driver_updates: dict[int, float] = field(default_factory=lambda: defaultdict(float))
    task_updates: dict[int, float] = field(default_factory=lambda: defaultdict(float))

    def value(self, acc_id: int) -> float:
        return self.task_updates.get(acc_id, 0.0) + self.driver_updates.get(acc_id, 0.0)


def _nodes(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _nodes(child)


def _add_metrics(ex: Execution, plan: dict) -> None:
    for node in _nodes(plan):
        for m in node.get("metrics", []):
            ex.metrics[m["accumulatorId"]] = (
                node["nodeName"], m["name"], m["metricType"], node.get("metadata", {}),
            )


def load(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == _SQL + "SparkListenerSQLExecutionStart":
                ex = Execution(e["executionId"], e.get("description") or "", e["time"])
                ex.plan = e["sparkPlanInfo"]
                ex.plan_text = ex.initial_text = e.get("physicalPlanDescription", "")
                _add_metrics(ex, ex.plan)
                log.executions[ex.id] = ex
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                ex = log.executions.get(e["executionId"])
                if ex is None:  # nested execution started before the log's own
                    continue
                ex.plan = e["sparkPlanInfo"]
                ex.plan_text = e.get("physicalPlanDescription", ex.plan_text)
                _add_metrics(ex, ex.plan)
            elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                ex = log.executions.get(e["executionId"])
                for m in e["sqlPlanMetrics"] if ex else []:
                    ex.metrics.setdefault(
                        m["accumulatorId"], ("", m["name"], m["metricType"], {})
                    )
            elif kind == _SQL + "SparkListenerSQLExecutionEnd":
                if e["executionId"] in log.executions:
                    log.executions[e["executionId"]].end_ms = e["time"]
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, v in e["accumUpdates"]:
                    log.driver_updates[acc_id] += v
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                exec_id = int(exec_id) if exec_id is not None else None
                tag = props.get("spark.job.description") or ""
                log.jobs[e["Job ID"]] = (tag, exec_id, list(e["Stage IDs"]))
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                for a in info.get("Accumulables", []):
                    try:  # SQL metric updates are logged as strings
                        v = float(a["Update"])
                    except (KeyError, TypeError, ValueError):
                        continue
                    log.task_updates[a["ID"]] += v
                log.tasks.append(
                    Task(e["Stage ID"], info["Launch Time"], info["Finish Time"],
                         e.get("Task Metrics") or {})
                )
    return log


# ---------------------------------------------------------------------------
# per-tag aggregation
# ---------------------------------------------------------------------------

_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _is_fact_scan(node: str, meta: dict, fact_path: str) -> bool:
    return node.startswith("Scan") and fact_path in meta.get("Location", "")


def _task_skew(tasks: list[Task]) -> float | None:
    """Median over post-shuffle stages of max/median task duration."""
    by_stage: dict[int, list[int]] = defaultdict(list)
    for t in tasks:
        read = t.metrics.get("Shuffle Read Metrics", {})
        if read.get("Total Records Read", 0) > 0:
            by_stage[t.stage].append(max(t.finish_ms - t.launch_ms, 1))
    ratios = [
        max(d) / statistics.median(d) for d in by_stage.values() if len(d) > 1
    ]
    return statistics.median(ratios) if ratios else None


def _unique_owners(log: EventLog) -> dict[str, str]:
    """Metric name -> node type, for names only one node type carries."""
    owners: dict[str, set[str]] = defaultdict(set)
    for ex in log.executions.values():
        for node, name, _, _ in ex.metrics.values():
            if node:
                owners[name].add(node.split(" ")[0])
    return {name: next(iter(n)) for name, n in owners.items() if len(n) == 1}


def _busy_ms(tasks: list[Task], lo: int, hi: int) -> int:
    """Milliseconds of [lo, hi] during which at least one task ran."""
    busy, end = 0, lo
    for t in sorted(tasks, key=lambda t: t.launch_ms):
        a, b = max(t.launch_ms, end), min(t.finish_ms, hi)
        if b > a:
            busy += b - a
            end = b
    return busy


def phase(log: EventLog, tag: str, fact_path: str, window_ms: tuple[int, int] | None = None) -> dict:
    """Operator and task totals of every execution and job tagged ``tag``.

    Everything is summed per tag, not per execution: with two group jobs in
    flight Spark can attribute one job's jobs and re-planned stages to the
    other's execution id, and both carry the same tag. Metrics re-planned
    by AQE are logged without their node; they are attributed by metric
    name when only one node type uses that name.

    ``fact_path`` (the fact table's directory) tells fact scans from the
    dimension-table scans feeding broadcast builds. ``window_ms`` (the
    run's wall-clock span) bounds ``idle_s``, the time no task ran.
    """
    execs = [ex for ex in log.executions.values() if ex.tag == tag]
    job_ids = [j for j, (t, _, _) in log.jobs.items() if t == tag]
    stages = {s for j in job_ids for s in log.jobs[j][2]}
    tasks = [t for t in log.tasks if t.stage in stages]
    owners = _unique_owners(log)

    sums: dict[str, float] = defaultdict(float)
    for ex in execs:
        for acc_id, (node, name, mtype, meta) in ex.metrics.items():
            v = log.value(acc_id) * _TIME_SCALE.get(mtype, 1.0)
            if _is_fact_scan(node, meta, fact_path):
                sums[f"fact_scan/{name}"] += v
            else:
                sums[f"{node.split(' ')[0] if node else owners.get(name, '?')}/{name}"] += v

    writes = [ex for ex in execs if "InsertIntoHadoopFsRelationCommand" in ex.plan_text]
    per_write_bhj, per_write_bcast_bytes = [], []
    for ex in writes:
        names = [n["nodeName"] for n in _nodes(ex.plan)]
        per_write_bhj.append(sum(n in ("BroadcastHashJoin", "BroadcastNestedLoopJoin") for n in names))
        per_write_bcast_bytes.append(
            sum(
                log.value(acc_id)
                for acc_id, (node, name, _, _) in ex.metrics.items()
                if node == "BroadcastExchange" and name == "data size"
            )
        )
    bex = sum(n["nodeName"] == "BroadcastExchange" for ex in execs for n in _nodes(ex.plan))

    exec_wall_s = sum(
        ((ex.end_ms if ex.end_ms is not None else ex.start_ms) - ex.start_ms) / 1e3 for ex in writes
    )
    if window_ms is None and execs:
        window_ms = (
            min(ex.start_ms for ex in execs),
            max(ex.end_ms if ex.end_ms is not None else ex.start_ms for ex in execs),
        )
    lo, hi = window_ms or (0, 0)
    idle_s = (hi - lo - _busy_ms(tasks, lo, hi)) / 1e3

    tm = [t.metrics for t in tasks]
    return {
        "sql_executions": len(execs),
        "jobs": len(job_ids),
        "tasks": len(tasks),
        "write_executions": len(writes),
        "fact_bhj_per_write": max(per_write_bhj) if per_write_bhj else 0,
        "bcast_bytes_per_write": statistics.median(per_write_bcast_bytes) if per_write_bcast_bytes else 0.0,
        "broadcast_exchanges": bex,
        "idle_s": idle_s,
        "write_exec_wall_s": exec_wall_s,
        "cpu_s": sum(m.get("Executor CPU Time", 0) for m in tm) / 1e9,
        "gc_s": sum(m.get("JVM GC Time", 0) for m in tm) / 1e3,
        "spill_bytes": sum(m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0) for m in tm),
        "task_skew": _task_skew(tasks),
        "metrics": dict(sums),
    }


_NOISE = re.compile(r"file:[^\],\s]+|\d+")


def plan_fingerprint(log: EventLog, tag: str) -> str:
    """Hash of the tag's write-execution initial physical plans (before AQE
    re-plans on runtime statistics) with paths and every number (expression
    ids, node ordinals) stripped: changes only when the operators the
    program plans do."""
    h = hashlib.sha256()
    texts = sorted(
        _NOISE.sub("", ex.initial_text.split("\n\n")[0])
        for ex in log.executions.values()
        if ex.tag == tag and "InsertIntoHadoopFsRelationCommand" in ex.plan_text
    )
    for text in sorted(set(texts)):
        h.update(text.encode())
    return h.hexdigest()[:16]
