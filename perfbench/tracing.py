"""Spans, process-tree counters and Spark event-log folding.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into the engine's public functions, the process
counters read /proc, and the event log is the one Spark writes when the
traced run enables it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans: name, start, end, parent, run id.

    Disabled, ``span`` records nothing and sets no Spark job description,
    so the untimed code path is the same in both modes.
    """

    def __init__(self, enabled: bool, run_id: str, sc=None,
                 workload: str = ""):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = sc
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        full = name if parent is None \
            else f"{self.spans[parent]['name']}.{name}"
        rec = {"id": sid, "name": full, "parent": parent,
               "run_id": self.run_id, "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobDescription(f"fcs-bench:{self.workload}/{full}")
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                outer = self.spans[self._stack[-1]]["name"] if self._stack \
                    else None
                self.sc.setJobDescription(
                    f"fcs-bench:{self.workload}/{outer}" if outer else None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds (duration minus
        the union of its children's intervals)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            covered, last = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a = max(a, last)
                if b > a:
                    covered += b - a
                    last = b
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0,
                                             "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out


# ---------------------------------------------------------------- /proc

def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM, the Python worker
    daemon and its workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def tree_peak_rss_mb(root: int) -> dict[str, float]:
    """VmHWM (peak resident set) in MB summed over the tree, per kind of
    process: ``driver``, ``jvm`` and ``python_workers`` (the worker
    daemon and its forks), plus ``n_python_workers``."""
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0,
           "n_python_workers": 0}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                hwm = next(int(line.split()[1]) for line in f
                           if line.startswith("VmHWM:")) * 1024 / 1e6
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except (OSError, StopIteration):
            continue
        if pid == root:
            out["driver"] += hwm
        elif b"pyspark.daemon" in cmd:
            out["python_workers"] += hwm
            out["n_python_workers"] += 1
        else:
            out["jvm"] += hwm
    return out


# ---------------------------------------------------------- event log

def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Task metrics of every job in the event log(s) under ``log_dir``,
    summed per job description (the layer the benchmark named)."""
    stage_desc: dict[int, str] = {}
    layers: dict[str, dict] = {}
    # Spark 4 writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                   for f in fs if f.startswith(("events_", "local-")))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or "(none)"
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                    layers.setdefault(desc, _zero())["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev.get("Stage ID"), "(none)")
                    acc = layers.setdefault(desc, _zero())
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["tasks"] += 1
                    acc["executor_run_s"] += \
                        m.get("Executor Run Time", 0) / 1e3
                    acc["executor_cpu_s"] += \
                        m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_write_bytes"] += \
                        sw.get("Shuffle Bytes Written", 0)
                    acc["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0))
                    acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
    return layers


def _zero() -> dict:
    return {"jobs": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0}
