"""Read Spark's JSON event log with the standard library only.

``spark_metrics`` sums the task-end events of the stages whose jobs ran
under the given job groups (a group ``g`` also matches ``g/...``), and
returns per-group averages plus task-time quantiles.
"""

from __future__ import annotations

import glob
import json
import os

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def _events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def _in_groups(group, groups) -> bool:
    return group is not None and any(group == g or group.startswith(g + "/") for g in groups)


def spark_metrics(event_dir: str, groups: list) -> dict:
    logs = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {len(logs)}")
    stages: set = set()
    durations: list = []
    tot = {"failed": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_w": 0, "spill": 0, "sent": 0, "recv": 0}
    for ev in _events(logs[0]):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if _in_groups((ev.get("Properties") or {}).get("spark.jobGroup.id"), groups):
                stages.update(ev.get("Stage IDs", []))
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stages:
            info = ev.get("Task Info", {})
            durations.append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0)
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                tot["failed"] += 1
            m = ev.get("Task Metrics") or {}
            tot["cpu_ns"] += m.get("Executor CPU Time", 0)
            tot["gc_ms"] += m.get("JVM GC Time", 0)
            tot["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PY_SENT:
                    tot["sent"] += int(acc.get("Update", 0))
                elif acc.get("Name") == PY_RECV:
                    tot["recv"] += int(acc.get("Update", 0))
    n = max(1, len(groups))
    durations.sort()
    return {
        "spark.tasks": len(durations) / n,
        "spark.failed_tasks": tot["failed"],
        "spark.task_s.p50": durations[len(durations) // 2] if durations else 0.0,
        "spark.task_s.max": durations[-1] if durations else 0.0,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9 / n,
        "spark.gc_s": tot["gc_ms"] / 1000.0 / n,
        "spark.shuffle_write_mb": tot["shuffle_w"] / 1e6 / n,
        "spark.spill_mb": tot["spill"] / 1e6 / n,
        "spark.python_sent_mb": tot["sent"] / 1e6 / n,
        "spark.python_recv_mb": tot["recv"] / 1e6 / n,
    }
