"""Spark event log → per-label execution table.

Reads the JSON event log Spark writes with ``spark.eventLog.enabled``
and ``spark.eventLog.compress=false`` (a single file, or the rolling
``eventlog_v2_*`` directory) and sums task metrics per job description.
Jobs whose description starts with ``prefix`` are grouped by that
description; every other job lands under ``None``.

    from perfbench.eventlog import read_events, label_table
    table = label_table(read_events(path), prefix="bench:")

Per label: ``jobs``, ``stages``, ``tasks``, ``executor_run_s``,
``executor_cpu_s``, ``gc_s``, ``shuffle_write_bytes``, ``spill_bytes``,
and from the SQL plan metrics ``python_s`` / ``python_rows`` / ``python_bytes`` (MapInPandas, Arrow
and pandas UDF nodes) and ``scan_rows`` (file-scan output rows).
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from collections.abc import Iterable, Iterator

_PYTHON_NODE_MARKS = ("Python", "Pandas", "InArrow")
_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_ROWS = "number of output rows"

FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes",
    "python_s", "python_rows", "python_bytes", "scan_rows",
)


def event_files(path: str) -> list[str]:
    """The event-log files under ``path`` in write order."""
    if os.path.isfile(path):
        return [path]
    rolled = glob.glob(os.path.join(path, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(
        p for p in glob.glob(os.path.join(path, "*")) if os.path.isfile(p)
    )


def read_events(path: str) -> Iterator[dict]:
    for f in event_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _plan_metrics(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    node = plan.get("nodeName", "")
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (node, m["name"])
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def label_table(events: Iterable[dict], prefix: str = "bench:") -> dict:
    """Sum task and plan metrics per job description (see module doc)."""
    stage_label: dict[int, str | None] = {}
    accum: dict[int, tuple[str, str]] = {}
    table: dict = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for e in events:
        kind = e.get("Event", "")
        if "sparkPlanInfo" in e:
            _plan_metrics(e["sparkPlanInfo"], accum)
        elif kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            label = desc if desc and desc.startswith(prefix) else None
            table[label]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_label.setdefault(sid, label)
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if e["Stage Info"].get("Number of Tasks", 0):
                table[stage_label.get(sid)]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            row = table[stage_label.get(e["Stage ID"])]
            m = e.get("Task Metrics") or {}
            row["tasks"] += 1
            row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                node, name = accum.get(a.get("ID"), ("", ""))
                try:
                    v = float(a.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                if any(mark in node for mark in _PYTHON_NODE_MARKS):
                    if name == _PY_TIME:
                        row["python_s"] += v / 1e3
                    elif name in _PY_BYTES:
                        row["python_bytes"] += v
                    elif name == _ROWS:
                        row["python_rows"] += v
                elif node.startswith("Scan") and name == _ROWS:
                    row["scan_rows"] += v
    return dict(table)
