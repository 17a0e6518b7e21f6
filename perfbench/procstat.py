"""Process-tree accounting from /proc: peak RSS and CPU time of the driver,
the JVM it launched and the JVM's Python workers (psutil is not needed)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict:
    """VmHWM in MB, grouped: this driver process, JVM processes, and every
    other descendant (the Python workers the JVM forked)."""
    me = os.getpid()
    groups = {"driver": 0, "jvm": 0, "python_workers": 0}
    for pid in tree(me):
        if pid == me:
            g = "driver"
        elif _comm(pid) == "java":
            g = "jvm"
        else:
            g = "python_workers"
        groups[g] += _hwm_kb(pid)
    return {k: v / 1024.0 for k, v in groups.items()}


def cpu_seconds() -> float:
    """utime + stime of the whole tree, plus what its reaped children
    used."""
    total = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the comm field: state=0 ... utime=11 stime=12 cutime=13 cstime=14
        total += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return total / _TICK
