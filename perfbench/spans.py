"""Tracing from outside the program: spans around calls into the package's
public functions, /proc CPU, read and memory readings over the driver's
process tree, and Spark task metrics joined to spans through the event log.

A span is one call run under ``setJobGroup(name)``. Spans stay in memory;
the event log is read once, after the session has stopped and flushed it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import Counter
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
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


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including reaped children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


def read_chars(pids: list[int]) -> int:
    """Bytes ``pids`` have read through read calls (``rchar`` in
    ``/proc/<pid>/io``: files and sockets alike), including reaped
    children, whose counts the kernel adds to the parent's on reaping."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/io") as f:
                total += int(f.readline().split()[1])
        except OSError:
            continue
    return total


def usage() -> dict[str, float]:
    """CPU seconds so far of the JVM and of the Python workers under it,
    and the bytes the Python workers have read (the driver's own Python
    process is excluded from all three)."""
    me = os.getpid()
    tree = [p for p in process_tree() if p != me]
    jvm = [p for p in tree if _comm(p) == "java"]
    py = [p for p in tree if p not in jvm and _comm(p).startswith("python")]
    return {"jvm": cpu_seconds(jvm), "python": cpu_seconds(py),
            "python_rchar": read_chars(py)}


class Tracer:
    """Collects spans; each span runs under its own Spark job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        group = f"{name}#{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        use0 = usage()
        t0 = time.time()
        rec = {"name": name, "group": group, "start": t0, "counts": {}}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["dur"] = rec["end"] - t0
            use1 = usage()
            rec["jvm_cpu_s"] = use1["jvm"] - use0["jvm"]
            rec["python_cpu_s"] = use1["python"] - use0["python"]
            rec["python_read_bytes"] = (use1["python_rchar"]
                                        - use0["python_rchar"])
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def attach_event_log(self, log_dir: str) -> None:
        """Join task metrics from the (stopped, flushed) event log to spans
        by job group."""
        stages, jobs = _read_event_log(log_dir)
        for rec in self.spans:
            rec["spark"] = _span_metrics(
                [s for s in stages.values() if s["group"] == rec["group"]],
                rec["start"], rec["end"])
            rec["spark"]["jobs"] = jobs.get(rec["group"], 0)


def _read_event_log(log_dir: str) -> tuple[dict[int, dict], Counter]:
    files = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    stage_group: dict[int, str | None] = {}
    stages: dict[int, dict] = {}
    jobs: Counter = Counter()
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[group] += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                st = stages.setdefault(sid, _new_stage())
                st["submitted"] = info.get("Submission Time", 0) / 1000
                st["completed"] = info.get("Completion Time", 0) / 1000
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _new_stage())
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                st["tasks"] += 1
                st["run_ms"].append(m.get("Executor Run Time", 0))
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
                st["spill"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0))
    for sid, st in stages.items():
        st["group"] = stage_group.get(sid)
    return stages, jobs


def _new_stage() -> dict:
    return {"tasks": 0, "run_ms": [], "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
            "submitted": 0.0, "completed": 0.0}


def _span_metrics(stages: list[dict], start: float, end: float) -> dict:
    """Spark metrics of one span's stages: counts, executor time, shuffle,
    spill, the wall time not covered by any stage (driver gap), and the
    slowest-task skew of the span's longest multi-task stage."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(s["submitted"], start), min(s["completed"], end))
                         for s in stages if s["completed"]):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    skew = 1.0
    multi = [s for s in stages if len(s["run_ms"]) > 1]
    if multi:
        longest = max(multi, key=lambda s: s["completed"] - s["submitted"])
        med = statistics.median(longest["run_ms"])
        skew = max(longest["run_ms"]) / med if med else 1.0
    return {
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "executor_run_s": sum(sum(s["run_ms"]) for s in stages) / 1e3,
        "executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
        "spill_bytes": sum(s["spill"] for s in stages),
        "driver_gap_s": max(0.0, (end - start) - covered),
        "task_max_over_median": skew,
    }
