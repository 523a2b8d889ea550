"""Parse a Spark event log into per-layer metrics, one row per job group.

The benchmark tags every timed repeat with ``SparkContext.setJobGroup``.
A task belongs to the group of the job that first lists its stage, so a
shuffle stage reused by a later job is counted once, where it ran.

Sources, by metric (the event is ``SparkListenerTaskEnd`` unless named):

========================  ==========================================  =====
metric                    source                                      unit
========================  ==========================================  =====
``exchange_bytes``        Task Metrics / Shuffle Bytes Written        bytes
``exchange_write_ms``     Task Metrics / Shuffle Write Time (ns)      ms
``sort_ms``               SQL ``Sort`` node, "sort time"              ms
``sort_peak_mb``          SQL ``Sort`` node, "peak memory", max task  MB
``py_boot_ms``            Python node, "time to start Python          ms
                          workers"
``py_init_ms``            Python node, "time to initialize Python     ms
                          workers"
``py_total_ms``           Python node, "time to run Python workers"   ms
``arrow_sent_bytes``      Python node, "data sent to Python workers"  bytes
``arrow_recv_bytes``      Python node, "data returned from Python     bytes
                          workers"
``rows_out``              Python node, "number of output rows"        rows
``task_max_ms``           Executor Run Time, max over tasks of        ms
                          Python stages
``task_median_ms``        Executor Run Time, median over the same     ms
``gc_ms``                 Task Metrics / JVM GC Time, all tasks       ms
``jobs``                  ``SparkListenerJobStart`` count             jobs
``tasks``                 task-end count                              tasks
========================  ==========================================  =====

SQL node metrics are resolved through the accumulator ids that the
``SparkListenerSQLExecutionStart`` and ``...SQLAdaptiveExecutionUpdate``
plans declare. A "Python node" is any plan node that declares "time to
run Python workers" (``MapInPandas``, ``ArrowEvalPython``, ...).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

PY_METRICS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_total_ms",
    "data sent to Python workers": "arrow_sent_bytes",
    "data returned from Python workers": "arrow_recv_bytes",
}
FIELDS = (
    "exchange_bytes", "exchange_write_ms", "sort_ms", "sort_peak_mb",
    "py_boot_ms", "py_init_ms", "py_total_ms", "arrow_sent_bytes",
    "arrow_recv_bytes", "rows_out", "task_max_ms", "task_median_ms",
    "gc_ms", "jobs", "tasks",
)


def read_events(log_dir: str) -> list[dict]:
    """All events under ``log_dir``, in file order. Handles both the
    single-file and the rolling (``eventlog_v2_*``) layouts."""
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
        and not os.path.basename(p).startswith("appstatus")
    )
    events = []
    for path in paths:
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _walk(plan: dict, accums: dict) -> None:
    node = plan["nodeName"]
    names = {m["name"] for m in plan.get("metrics", ())}
    is_python = "time to run Python workers" in names
    for m in plan.get("metrics", ()):
        accums[m["accumulatorId"]] = (node, m["name"], m["metricType"], is_python)
    for child in plan.get("children", ()):
        _walk(child, accums)


def _value(raw, metric_type: str) -> float:
    v = float(raw)
    return v / 1e6 if metric_type == "nsTiming" else v


def group_metrics(events: list[dict]) -> dict[str, dict[str, float]]:
    """``{job_group: {field: value}}`` for every tagged job group."""
    accums: dict[int, tuple] = {}
    for ev in events:
        if "sparkPlanInfo" in ev:
            _walk(ev["sparkPlanInfo"], accums)

    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    py_tasks: dict[str, list[float]] = defaultdict(list)
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out[group]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            row = out[group]
            row["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            row["exchange_bytes"] += sw.get("Shuffle Bytes Written", 0)
            row["exchange_write_ms"] += sw.get("Shuffle Write Time", 0) / 1e6
            row["gc_ms"] += tm.get("JVM GC Time", 0)
            in_python = False
            for acc in ev["Task Info"].get("Accumulables", ()):
                meta = accums.get(acc["ID"])
                if meta is None or "Update" not in acc:
                    continue
                node, name, mtype, is_python = meta
                v = _value(acc["Update"], mtype)
                if is_python:
                    in_python = True
                    if name in PY_METRICS:
                        row[PY_METRICS[name]] += v
                    elif name == "number of output rows":
                        row["rows_out"] += v
                elif node == "Sort" and name == "sort time":
                    row["sort_ms"] += v
                elif node == "Sort" and name == "peak memory":
                    row["sort_peak_mb"] = max(row["sort_peak_mb"], v / 2**20)
            if in_python:
                py_tasks[group].append(float(tm.get("Executor Run Time", 0)))
    for group, times in py_tasks.items():
        out[group]["task_max_ms"] = max(times)
        out[group]["task_median_ms"] = statistics.median(times)
    return dict(out)
