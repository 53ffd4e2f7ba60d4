"""Measurement helpers: process-tree RSS sampling and Spark event-log parsing.

Both read what the program already exposes -- ``/proc`` and the event log
Spark writes when ``spark.eventLog.enabled`` is set -- so the benchmark
needs no hook inside the program.
"""

from __future__ import annotations

import glob
import json
import os
import threading
from typing import Dict, List

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1e6

#: SQL metric names of Spark's Python nodes (PythonSQLMetrics)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def _ppid_and_rss(pid: str):
    with open("/proc/%s/stat" % pid) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # after the command name: state ppid ... rss is the 22nd field
    return int(fields[1]), int(fields[21])


def tree_rss_mb(root_pid: int) -> tuple:
    """Resident memory of ``root_pid`` alone and with all its descendants,
    in MB."""
    children: Dict[int, List[int]] = {}
    rss: Dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            ppid, pages = _ppid_and_rss(pid)
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listdir and open
        children.setdefault(ppid, []).append(int(pid))
        rss[int(pid)] = pages
    total = 0
    stack = [root_pid]
    while stack:
        p = stack.pop()
        total += rss.get(p, 0)
        stack.extend(children.get(p, ()))
    return rss.get(root_pid, 0) * PAGE_MB, total * PAGE_MB


class RssSampler:
    """Samples the peak RSS of a process tree on a background thread;
    ``peak_root_mb`` is the root's own share at that peak and
    ``peak_children_mb`` the peak of the rest of the tree."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_root_mb = 0.0
        self.peak_children_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        root, total = tree_rss_mb(self.root_pid)
        if total > self.peak_mb:
            self.peak_mb, self.peak_root_mb = total, root
        self.peak_children_mb = max(self.peak_children_mb, total - root)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def cpu_steal(since=None):
    """Cumulative (steal, total) CPU ticks from /proc/stat; with ``since``,
    the share of CPU time the hypervisor took away since that reading."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    now = (ticks[7], sum(ticks))
    if since is None:
        return now
    return (now[0] - since[0]) / max(1, now[1] - since[1])


class GroupStats:
    """What the event log says about the jobs of one job group."""

    def __init__(self) -> None:
        self.jobs = 0
        self.py_sent = 0
        self.py_received = 0
        # wall seconds of each task of the stages that ran Python
        self.python_task_s: List[float] = []
        self.gc_s = 0.0
        self.spill_bytes = 0


def parse_event_log(log_dir: str) -> Dict[str, GroupStats]:
    """Per job group (``SparkContext.setJobGroup``): jobs, Python I/O bytes,
    and the task times of the stages that crossed into Python."""
    stage_group: Dict[int, str] = {}
    groups: Dict[str, GroupStats] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    stats = groups.setdefault(group, GroupStats())
                    stats.jobs += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    stats = groups[group]
                    info = ev.get("Task Info") or {}
                    metrics = ev.get("Task Metrics") or {}
                    stats.gc_s += metrics.get("JVM GC Time", 0) / 1000.0
                    stats.spill_bytes += metrics.get(
                        "Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0)
                    acc = {
                        a.get("Name"): int(a["Update"])
                        for a in info.get("Accumulables", ())
                        if a.get("Name") in (PY_SENT, PY_RECEIVED) and "Update" in a
                    }
                    if acc:
                        stats.py_sent += acc.get(PY_SENT, 0)
                        stats.py_received += acc.get(PY_RECEIVED, 0)
                        stats.python_task_s.append(
                            (info["Finish Time"] - info["Launch Time"]) / 1000.0)
    return groups
