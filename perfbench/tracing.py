"""The benchmark's own tracing: spans around calls into the program's
layers, job groups at the same boundaries, Spark event-log folding, and
process-tree CPU / memory read from /proc.

Spans stay in memory and are written out when the run ends. When tracing
is off, ``span`` only runs the body: no job groups are set and no event
log is written, so timed runs carry no tracing cost.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

_CLK = os.sysconf("SC_CLK_TCK")
PY_TO_WORKER = "data sent to Python workers"
PY_FROM_WORKER = "data returned from Python workers"


class Tracer:
    def __init__(self, sc, run_id: str, on: bool):
        self.sc = sc
        self.run_id = run_id
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; a span with ``group`` set tags the Spark jobs it
        starts with that job group and records their count."""
        if not self.on:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "run": self.run_id, "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        group = attrs.get("group")
        if group:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            if group:
                rec["jobs"] = len(
                    self.sc.statusTracker().getJobIdsForGroup(group))
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]]
                for s in self.spans}

    def write(self, path: Path, extra: dict) -> None:
        st = self.self_times()
        for s in self.spans:
            s["self_s"] = round(st[s["id"]], 6)
        path.write_text(json.dumps({"spans": self.spans, **extra}, indent=1))


# -- Spark event log ------------------------------------------------------

def _int(v) -> int:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return 0


def fold_event_log(log_dir: Path) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, job intervals and task metrics,
    read from the uncompressed JSON event log of a stopped application."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_group, job_start, stage_group, stage_submit = {}, {}, {}, {}
    intervals = defaultdict(list)
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(log_dir.rglob("events_*"),
                   key=lambda f: int(f.name.split("_")[1]))
    for f in files:
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"]
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                    groups[g]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        intervals[job_group[jid]].append(
                            (job_start[jid], ev["Completion Time"]))
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"])
                    if g is not None:
                        groups[g]["stages"] += 1
                        stage_submit[(info["Stage ID"],
                                      info.get("Stage Attempt ID", 0))] = (
                            info.get("Submission Time"))
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    _fold_task(groups[g], ev, stage_submit.get(
                        (ev["Stage ID"], ev.get("Stage Attempt ID", 0))))
    out = {}
    for g, m in groups.items():
        m = dict(m)
        m["intervals"] = intervals.get(g, [])
        out[g] = m
    return out


def _fold_task(m, ev, submitted) -> None:
    info = ev.get("Task Info", {})
    tm = ev.get("Task Metrics") or {}
    m["tasks"] += 1
    if info.get("Failed") or (ev.get("Task End Reason") or {}).get(
            "Reason", "Success") != "Success":
        m["failed_tasks"] += 1
    m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
    m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    m["jvm_gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    sw = tm.get("Shuffle Write Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    m["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0))
    m["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                         + tm.get("Disk Bytes Spilled", 0))
    if submitted and info.get("Launch Time"):
        m["task_wait_s"] += max(0, info["Launch Time"] - submitted) / 1e3
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name == PY_TO_WORKER:
            m["py_to_worker"] += _int(acc.get("Update"))
        elif name == PY_FROM_WORKER:
            m["py_from_worker"] += _int(acc.get("Update"))


def union_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals, in s."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


# -- /proc ----------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU of ``root`` and its descendants, counting the
    children each has already reaped (Python workers that exited)."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read()
        except OSError:
            continue
        fields = f[f.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (``/proc/stat``); a difference of two
    readings shows whether a slow run shared its cores."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0
