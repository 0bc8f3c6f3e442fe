"""Per-job-group task counts from a Spark event log, read with ``json``.

Each traced span runs under a Spark job group named after it; the
job-start event carries the group in its properties and lists the
job's stages, and task-end events carry the stage id and the task
metrics. Groups are summed per layer: the part of the group name before
the first dot.

Python-UDF plan nodes (``MapInArrow`` and the like) are read from the
SQL plans the log records: their SQL metrics arrive as task
accumulator updates, so each node's rows in, bytes to and from the
Python workers and Python run time are summed per group, keyed by the
node's output columns.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from statistics import median

#: SQL metric names of a Python-UDF plan node, by the key reported.
PYTHON_METRICS = {
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
    "time to run Python workers": "run_ms",
}
ROWS = "number of output rows"
_ATTR = re.compile(r"#\d+L?")


def _new_group() -> dict:
    return {
        "run_ms": 0, "scanned_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "broadcast_rows": defaultdict(int), "stage_run_ms": defaultdict(list),
        "python": defaultdict(lambda: {"rows_in": 0, "to_python_bytes": 0,
                                       "from_python_bytes": 0, "run_ms": 0, "task_ms": []}),
    }


def read(log_dir: str) -> dict[str, dict]:
    """{layer: totals} over every event-log file in ``log_dir``.

    Totals: run_ms (executor run time), scanned_bytes (the scans' "size
    of files read": the bytes of the files each scan node selected,
    counted again on every re-scan and blind to column pruning; the
    tasks' own bytes-read counter only sees parquet footers),
    shuffle_write_bytes, spill_bytes (memory + disk), broadcast_rows
    ({job group: rows of its BroadcastExchange nodes}), task_skew
    (max/median task run time of the layer's busiest stage) and
    python: {output columns: {rows_in, to_python_bytes,
    from_python_bytes, run_ms, task_skew}} for each Python-UDF node,
    where rows_in is the output row count of the node's child and
    task_skew is over the tasks that ran the node."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    files_read_ids: set[int] = set()
    broadcast_ids: set[int] = set()
    python_accs: dict[int, tuple[str, str]] = {}  # accumulator -> (node, key)
    exec_driver: dict[tuple[int, int], int] = {}  # driver-side SQL metrics
    groups: dict[str, dict] = defaultdict(_new_group)
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            events += [json.loads(line) for line in f]
    # plans first: an adaptive plan update can be logged after the tasks
    # that already updated its nodes' metrics
    for ev in events:
        if ev.get("Event", "").endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            plan = ev["sparkPlanInfo"]
            files_read_ids.update(_metric_ids(plan, "size of files read"))
            broadcast_ids.update(_metric_ids(plan, ROWS, node="BroadcastExchange"))
            _python_nodes(plan, python_accs)
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group:
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group.split(".")[0]
                if "spark.sql.execution.id" in props:
                    exec_group[int(props["spark.sql.execution.id"])] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is not None:
                _add_task(groups[group], ev, python_accs)
        elif kind.endswith("DriverAccumUpdates"):
            for acc, value in ev.get("accumUpdates", []):
                key = (ev["executionId"], acc)
                exec_driver[key] = max(exec_driver.get(key, 0), value)
    for (exec_id, acc), value in exec_driver.items():
        group = exec_group.get(exec_id)
        if group is None:
            continue
        g = groups[group.split(".")[0]]
        if acc in files_read_ids:
            g["scanned_bytes"] += value
        elif acc in broadcast_ids:
            g["broadcast_rows"][group] += value
    out = {}
    for group, g in groups.items():
        g["task_skew"] = _skew(max(g.pop("stage_run_ms").values(), key=sum, default=[]))
        g["python"] = {node: {**{k: v for k, v in p.items() if k != "task_ms"},
                              "task_skew": _skew(p["task_ms"])}
                       for node, p in g["python"].items()}
        out[group] = g
    return out


def _skew(task_ms: list[int]) -> float:
    mid = median(task_ms) if task_ms else 0
    return max(task_ms) / mid if mid > 0 else 1.0


def _metric_ids(plan: dict, name: str, node: str = ""):
    """Accumulators of the metric ``name`` under ``plan``, on nodes
    whose name starts with ``node``."""
    if plan.get("nodeName", "").startswith(node):
        for m in plan.get("metrics", []):
            if m.get("name") == name:
                yield m["accumulatorId"]
    for child in plan.get("children", []):
        yield from _metric_ids(child, name, node)


def _python_nodes(plan: dict, accs: dict) -> None:
    """Record the accumulators of every Python-UDF node under ``plan``:
    its own metrics and the row count of its child."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if "time to run Python workers" in metrics:
        outputs = plan.get("simpleString", "").rsplit("[", 1)[-1].split("]")[0]
        node = ",".join(_ATTR.sub("", c).strip() for c in outputs.split(","))
        for name, key in PYTHON_METRICS.items():
            if name in metrics:
                accs[metrics[name]] = (node, key)
        rows = next((acc for child in plan.get("children", [])
                     for acc in _metric_ids(child, ROWS)), None)
        if rows is not None:
            accs[rows] = (node, "rows_in")
    for child in plan.get("children", []):
        _python_nodes(child, accs)


def _add_task(g: dict, ev: dict, python_accs: dict) -> None:
    m = ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    g["run_ms"] += run_ms
    g["stage_run_ms"][ev["Stage ID"]].append(run_ms)
    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    ran = set()
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        hit = python_accs.get(acc.get("ID"))
        if hit is not None:
            node, key = hit
            g["python"][node][key] += int(acc.get("Update", 0))
            if key == "run_ms":
                ran.add(node)
    for node in ran:
        g["python"][node]["task_ms"].append(run_ms)
