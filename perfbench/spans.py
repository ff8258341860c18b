"""Tracing for the benchmark: in-memory spans, Spark event-log parsing and
peak resident memory, all measured from outside the engine.

Spans are recorded around the benchmark's own calls into the engine; each
runs under its own Spark job group, so the event log attributes every job,
task, shuffle byte and spill to the span that caused it.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Spans:
    """Spans kept in memory; `dump` writes them as JSON at exit."""

    def __init__(self):
        self.sc = None  # set to a SparkContext, spans set its job group
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.records), "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.records.append(rec)
        self._stack.append(rec["id"])
        if self.sc is not None:
            self.sc.setJobGroup(f"span:{rec['id']}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(f"span:{self._stack[-1]}",
                                        self.records[self._stack[-1]]["name"])
                else:
                    self.sc._jsc.clearJobGroup()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its children cover."""
        own = {r["id"]: r["end"] - r["start"] for r in self.records}
        for r in self.records:
            if r["parent"] is not None:
                own[r["parent"]] -= r["end"] - r["start"]
        return own

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        selfs = self.self_times()
        path.write_text(json.dumps(
            [{**r, "self_s": selfs[r["id"]]} for r in self.records],
            indent=1))


def parse_event_log(log_dir: Path) -> dict[str, dict]:
    """Per job group: jobs, tasks, shuffle bytes written, spill bytes and
    the task-time skew (max / median task duration) of its dominant Spark
    stage. Reads the uncompressed JSON-lines log Spark writes when
    spark.eventLog.compress=false and spark.eventLog.rolling.enabled."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "shuffle_bytes": 0,
                 "spill_bytes": 0})
    task_times: dict[int, list[int]] = defaultdict(list)
    # Spark 4 writes a rolling log: <app dir>/events_<n>_<app id> files
    files = sorted((f for f in log_dir.rglob("events_*") if f.is_file()),
                   key=lambda f: int(f.name.split("_")[1]))
    for f in files:
        with f.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    rec = groups[g]
                    rec["tasks"] += 1
                    rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics")
                                             or {}).get("Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    task_times[ev["Stage ID"]].append(
                        info["Finish Time"] - info["Launch Time"])
    for g, rec in groups.items():
        stages = [s for s, gg in stage_group.items()
                  if gg == g and len(task_times[s]) >= 3]
        if stages:
            top = max(stages, key=lambda s: sum(task_times[s]))
            med = statistics.median(task_times[top])
            rec["task_skew"] = max(task_times[top]) / max(med, 1)
        else:
            rec["task_skew"] = 1.0
    return dict(groups)


def _status_kb(pid: int, field: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(field + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int, depth: int | None = None) -> list[int]:
    """Pids of the live descendants of `root` (from /proc/<pid>/stat), down
    to `depth` generations (all when None)."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children[ppid].append(int(d.name))
    out, level = [], [root]
    while level and (depth is None or depth > 0):
        level = [k for p in level for k in children.get(p, [])]
        out.extend(level)
        depth = None if depth is None else depth - 1
    return out


def peak_rss_mb(jvm_pid: int, worker_slots: int) -> float:
    """An upper bound on the peak resident memory of the run: JVM
    high-water RSS + this driver's max RSS + the high-water RSS of the
    JVM's direct children (the Python worker daemon) + `worker_slots` times
    the largest high-water RSS of a process under them (a Python worker).
    At most `worker_slots` workers run at once; counting the live ones
    instead would make the figure depend on how many the daemon happened
    to keep."""
    kb = _status_kb(jvm_pid, "VmHWM")
    kb += resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    children = set(descendants(jvm_pid, depth=1))
    kb += sum(_status_kb(p, "VmHWM") for p in children)
    kb += worker_slots * max(
        [_status_kb(p, "VmHWM") for p in descendants(jvm_pid)
         if p not in children], default=0)
    return kb / 1024.0


def proc_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of the given processes, each with its
    reaped children, from /proc/<pid>/stat."""
    ticks = 0
    for pid in pids:
        try:
            stat = Path(f"/proc/{pid}/stat").read_text()
        except OSError:
            continue
        ticks += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


# Driver-JVM threads whose CPU is left out of the work's: JIT compilers,
# the code-cache sweeper and the garbage collector. Their CPU followed the
# host's load and the JIT's timing, not the work (a C2 compiler thread
# alone took 5 of a spatial_join warm pass's 8.6 JVM CPU seconds).
JIT_GC_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread",
                  "GC Thread", "G1 ")


def jit_gc_cpu_s(jvm_pid: int) -> float:
    """User + system CPU seconds of the JVM's JIT and GC threads, from
    /proc/<pid>/task/*/stat (the kernel truncates a thread name to 15
    characters)."""
    ticks = 0
    for t in Path(f"/proc/{jvm_pid}/task").iterdir():
        try:
            stat = (t / "stat").read_text()
        except OSError:
            continue
        if stat[stat.index("(") + 1:stat.rindex(")")].startswith(JIT_GC_THREADS):
            ticks += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:13])
    return ticks / os.sysconf("SC_CLK_TCK")


def work_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the work so far: the driver JVM without its JIT and
    GC threads (so task threads, Catalyst planning on the py4j threads,
    the DAG scheduler, task launch and the listener bus are in), the
    Python workers under it, and this driver. The whole JVM's CPU counts
    threads that have exited; the JIT and GC threads never exit
    (session_conf turns off the dynamic compiler-thread count). The
    kernel leaves steal time out of all these counters."""
    return (proc_cpu_s([jvm_pid]) - jit_gc_cpu_s(jvm_pid)
            + proc_cpu_s(descendants(jvm_pid)) + sum(os.times()[:2]))


def dir_bytes(path: str | os.PathLike) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())
