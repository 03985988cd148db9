"""Per-operation executor metrics from Spark's own event log.

The traced run enables an uncompressed local event log and tags every
operation's jobs with a job group. After the session stops, ``read_groups``
sums each group's ``TaskEnd`` metrics. Spark 4 writes the log as a
directory of ``events_<n>_<app>`` files; a single file is read too.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

# Python-runner SQL metrics, reported as task accumulables.
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"

FIELDS = (
    "executor_cpu_ms",
    "executor_run_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "peak_exec_mem_bytes",
    "python_bytes_sent",
    "python_bytes_received",
    "tasks",
    "stages",
)


def _log_files(log_dir: str) -> list[str]:
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]

    def order(p: str) -> tuple:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0)

    return sorted(paths, key=order)


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def read_groups(log_dir: str) -> dict[str, dict[str, float]]:
    """``{job_group: {field: total}}`` over every task of the group's jobs.
    ``peak_exec_mem_bytes`` is the largest single task's peak; ``stages``
    counts distinct stages that ran at least one task."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    stages: dict[str, set[int]] = defaultdict(set)
    for path in _log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    _add_task(out[group], ev)
                    stages[group].add(ev["Stage ID"])
    for group, ids in stages.items():
        out[group]["stages"] = len(ids)
    return dict(out)


def _add_task(acc: dict[str, float], ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    acc["executor_cpu_ms"] += _num(m.get("Executor CPU Time")) / 1e6
    acc["executor_run_ms"] += _num(m.get("Executor Run Time"))
    acc["gc_ms"] += _num(m.get("JVM GC Time"))
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += _num(sr.get("Local Bytes Read")) + _num(sr.get("Remote Bytes Read"))
    acc["shuffle_write_bytes"] += _num((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
    acc["spill_bytes"] += _num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled"))
    acc["peak_exec_mem_bytes"] = max(acc["peak_exec_mem_bytes"], _num(m.get("Peak Execution Memory")))
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = a.get("Name")
        if name == PY_SENT:
            acc["python_bytes_sent"] += _num(a.get("Update"))
        elif name == PY_RECEIVED:
            acc["python_bytes_received"] += _num(a.get("Update"))
