"""Roll a Spark event log (plain JSON lines: eventLog.compress=false,
eventLog.rolling.enabled=false) up by job group.

Every job carries the `spark.jobGroup.id` property set by
`SparkContext.setJobGroup`; each stage is charged to the group of the
first job that lists it, and each SQL plan node to the group of the
job that ran its execution.  The JVM heap peaks come from the tasks'
executor metrics, which Spark fills only when
`spark.executor.metrics.pollingInterval` is above 0; in local mode the
executor is the driver JVM.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# stage accumulables summed per group: name -> output key
_STAGE_SUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_mem_bytes",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
    "data sent to Python workers": "py_bytes_in",
    "time to run Python workers": "py_run_ms",
}


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _walk(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _walk(child)


def rollup(lines) -> dict[str, dict]:
    """{group: metrics} from an iterable of event-log lines.

    Per group: jobs, stages, tasks, stage_wall_s (union of stage
    intervals), intervals (their list, epoch seconds), the _STAGE_SUMS
    keys, spill_bytes, peak_exec_mem_mb (largest task), jvm_heap_peak_mb
    (largest JVMHeapMemory a task saw), task_skew (largest max/median
    task duration over stages with >= 2 tasks), sql_nodes: [(node name,
    node description, metric name, value)] for every SQL metric with a
    value, and executions: [set of node names] per SQL execution.
    """
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    stage_info: dict[int, dict] = {}
    task_ms: dict[int, list[float]] = defaultdict(list)
    task_peak: dict[int, int] = defaultdict(int)
    heap_peak: dict[int, int] = defaultdict(int)
    plan_nodes: dict[int, dict[int, tuple[str, str, str]]] = defaultdict(dict)
    exec_nodes: dict[int, set[str]] = defaultdict(set)
    accum_val: dict[int, float] = {}

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or "(none)"
            job_group[ev["Job ID"]] = group
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                exec_group.setdefault(int(ex), group)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stage_info[si["Stage ID"]] = si
            for acc in si.get("Accumulables", []):
                try:
                    accum_val[acc["ID"]] = float(acc["Value"])
                except (KeyError, TypeError, ValueError):
                    pass
        elif kind == "SparkListenerTaskEnd":
            ti, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            sid = ev["Stage ID"]
            task_ms[sid].append(ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
            task_peak[sid] = max(task_peak[sid], tm.get("Peak Execution Memory", 0))
            em = ev.get("Task Executor Metrics") or {}
            heap_peak[sid] = max(heap_peak[sid], em.get("JVMHeapMemory", 0))
        elif kind in (_SQL_START, _SQL_AQE):
            ex = ev["executionId"]
            for node in _walk(ev["sparkPlanInfo"]):
                exec_nodes[ex].add(node["nodeName"])
                for m in node.get("metrics", []):
                    plan_nodes[ex][m["accumulatorId"]] = (
                        node["nodeName"], node.get("simpleString", ""), m["name"])
        elif kind == _SQL_ACCUM:
            for acc_id, val in ev.get("accumUpdates", []):
                accum_val[acc_id] = float(val)

    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for jid, group in job_group.items():
        out[group]["jobs"] += 1
    for sid, si in stage_info.items():
        g = out[stage_group.get(sid, "(none)")]
        g["stages"] += 1
        g["tasks"] += si.get("Number of Tasks", 0)
        s, e = si.get("Submission Time"), si.get("Completion Time")
        if s is not None and e is not None:
            g.setdefault("intervals", []).append((s / 1000.0, e / 1000.0))
        for acc in si.get("Accumulables", []):
            key = _STAGE_SUMS.get(acc.get("Name"))
            if key is not None:
                try:
                    g[key] += float(acc["Value"])
                except (TypeError, ValueError):
                    pass
        durs = task_ms.get(sid, [])
        if len(durs) >= 2 and statistics.median(durs) > 0:
            g["task_skew"] = max(g["task_skew"], max(durs) / statistics.median(durs))
        g["peak_exec_mem_mb"] = max(g["peak_exec_mem_mb"], task_peak.get(sid, 0) / 2**20)
        g["jvm_heap_peak_mb"] = max(g["jvm_heap_peak_mb"], heap_peak.get(sid, 0) / 2**20)
    for ex, names in exec_nodes.items():
        out[exec_group.get(ex, "(none)")].setdefault("executions", []).append(names)
    for ex, nodes in plan_nodes.items():
        g = out[exec_group.get(ex, "(none)")]
        for acc_id, (node, desc, metric) in nodes.items():
            if acc_id in accum_val:
                g.setdefault("sql_nodes", []).append((node, desc, metric, accum_val[acc_id]))
    result = {}
    for group, g in out.items():
        g["stage_wall_s"] = union_s(g.get("intervals", []))
        g["spill_bytes"] = g["spill_mem_bytes"] + g["spill_disk_bytes"]
        result[group] = dict(g)
    return result


def rollup_file(path: str) -> dict[str, dict]:
    with open(path) as f:
        return rollup(f)


def node_metric(group: dict, node_pred, metric: str) -> float:
    """Sum of `metric` over the group's SQL plan nodes for which
    node_pred(node name, node description) holds."""
    return sum(
        v for node, desc, m, v in group.get("sql_nodes", [])
        if m == metric and node_pred(node, desc)
    )
