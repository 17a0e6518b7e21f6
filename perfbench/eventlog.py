"""Per-op layer numbers from a Spark event log (uncompressed JSON lines).

Jobs are attributed to ops by the job group the benchmark sets around each
op (``spark.jobGroup.id``); stages and tasks follow their job.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

MB = 1024.0 * 1024.0


def _events(log_dir: str):
    """Every event of every application logged under ``log_dir``. Spark 4
    writes each application as a directory of rolled ``events_<n>_<app>``
    files."""
    for app in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, app)
        files = [path]
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            files = [os.path.join(path, f) for f in
                     sorted(parts, key=lambda f: int(f.split("_")[1]))]
        for name in files:
            with open(name) as f:
                for line in f:
                    yield json.loads(line)


def empty() -> dict:
    return {"jobs": 0, "stages": set(), "tasks": 0, "tasks_failed": 0,
            "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "rows_read": 0,
            "bytes_read": 0, "shuffle_write": 0, "shuffle_read": 0,
            "spill": 0, "rows_written": 0, "bytes_written": 0,
            "stage_task_s": defaultdict(list)}


def by_group(log_dir: str) -> dict[str, dict]:
    """job group id -> summed task metrics of every job in that group."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(empty)
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if gid is None:
                continue
            groups[gid]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = gid
        elif kind == "SparkListenerTaskEnd":
            gid = stage_group.get(ev.get("Stage ID"))
            if gid is None:
                continue
            g = groups[gid]
            g["stages"].add(ev["Stage ID"])
            g["tasks"] += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason != "Success":
                g["tasks_failed"] += 1
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1e3
            g["run_s"] += run_s
            g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            inp = m.get("Input Metrics") or {}
            g["rows_read"] += inp.get("Records Read", 0)
            g["bytes_read"] += inp.get("Bytes Read", 0)
            out = m.get("Output Metrics") or {}
            g["rows_written"] += out.get("Records Written", 0)
            g["bytes_written"] += out.get("Bytes Written", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
            g["spill"] += m.get("Disk Bytes Spilled", 0)
            g["stage_task_s"][ev["Stage ID"]].append(run_s)
    return dict(groups)


def task_skew(g: dict) -> float:
    """max / median task run time in the stage with the most tasks."""
    if not g["stage_task_s"]:
        return 0.0
    widest = max(g["stage_task_s"].values(), key=len)
    med = statistics.median(widest)
    return max(widest) / med if med > 0 else 1.0


def summarize(groups: list[dict], op_walls: list[float], cores: int) -> dict:
    """Per-op medians of the layer numbers over the traced ops."""
    def med(f):
        return statistics.median(f(g) for g in groups) if groups else 0.0

    idle = [1.0 - g["run_s"] / (cores * w) for g, w in zip(groups, op_walls)
            if w > 0]
    return {
        "jvm.stages": med(lambda g: len(g["stages"])),
        "jvm.tasks": med(lambda g: g["tasks"]),
        "jvm.tasks_failed": sum(g["tasks_failed"] for g in groups),
        "jvm.task_cpu_s": med(lambda g: g["cpu_s"]),
        "jvm.gc_s": med(lambda g: g["gc_s"]),
        "jvm.core_idle_frac": statistics.median(idle) if idle else 0.0,
        "stages.jvm_wait_s": med(lambda g: max(0.0, g["run_s"] - g["cpu_s"])),
        "scan.rows_read": med(lambda g: g["rows_read"]),
        "scan.mb_read": med(lambda g: g["bytes_read"] / MB),
        "shuffle.write_mb": med(lambda g: g["shuffle_write"] / MB),
        "shuffle.read_mb": med(lambda g: g["shuffle_read"] / MB),
        "shuffle.spill_mb": med(lambda g: g["spill"] / MB),
        "shuffle.task_skew": med(task_skew),
    }
