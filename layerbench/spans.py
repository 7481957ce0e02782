"""Measurement helpers: per-call spans, Spark job accounting, the event
log reader, process memory and the host-noise probe.

Spans are recorded from outside the package, around each phase of each
call. In a traced run every phase runs under its own Spark job group, so
the jobs it launched can be counted (``statusTracker``) and, after the
session stops, their stages and tasks summed from the event log.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np


@dataclass
class Span:
    call: str
    phase: str  # "build" | "execute" | "repeat"
    start: float
    end: float
    group: str = ""
    jobs: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Runs call phases, recording a span for each. With ``enabled`` off
    it only reads the clock, so untraced timings carry no extra work.
    ``overhead_s`` sums the driver time spent in the tracing calls
    themselves (job-group set and clear, ``statusTracker`` lookups)."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._n = 0

    def run(self, call: str, phase: str, fn, *args):
        group = ""
        if self.enabled:
            t = time.perf_counter()
            self._n += 1
            group = f"lb{self._n}"
            self.sc.setJobGroup(group, f"{call}:{phase}")
            self.overhead_s += time.perf_counter() - t
        start = time.perf_counter()
        out = fn(*args)
        end = time.perf_counter()
        span = Span(call, phase, start, end, group)
        if self.enabled:
            span.jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - end
        self.spans.append(span)
        return out, span


def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in Catalyst analysis, optimization and planning for
    the DataFrame's own query execution."""
    tracker = df._jdf.queryExecution().tracker()
    phases = tracker.phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    job_intervals: list = field(default_factory=list)


def read_event_log(log_dir: str, app_id: str) -> dict[str, GroupStats]:
    """Per job group: jobs, completed stages, task counts and task
    metrics summed from application ``app_id``'s event log in ``log_dir``."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    mb = 1.0 / (1 << 20)
    for path in glob.glob(os.path.join(log_dir, f"{app_id}*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    stats[g].jobs += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        stats[job_group[jid]].job_intervals.append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stats[stage_group.get(sid, "")].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    st = stats[stage_group.get(ev["Stage ID"], "")]
                    st.tasks += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        st.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    st.task_run_s += m.get("Executor Run Time", 0) / 1000.0
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    rd = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read_mb += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    ) * mb
                    wr = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_mb += wr.get("Shuffle Bytes Written", 0) * mb
                    st.spill_mb += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) * mb
    return dict(stats)


def covered_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def process_tree(root: int) -> list[int]:
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo += _children(pid)
    return seen


def peak_rss_mb(pids) -> float:
    """Sum of each process's peak resident set (VmHWM), in MiB."""
    return sum(_status_kb(p, "VmHWM") for p in set(pids)) / 1024.0


def rss_by_process(pids) -> dict[str, float]:
    """Peak resident set (MiB) per live process, keyed ``pid:name``."""
    out = {}
    for p in sorted(set(pids)):
        try:
            with open(f"/proc/{p}/comm") as fh:
                name = fh.read().strip()
        except OSError:
            continue
        out[f"{p}:{name}"] = _status_kb(p, "VmHWM") / 1024.0
    return out


def host_noise_s(reps: int = 3) -> float:
    """Median time of a fixed NumPy sort + SHA-256 loop: a reading of how
    fast this host runs plain CPU work right now, not of the program."""
    data = np.random.default_rng(0).random(4_000_000)
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        np.sort(data)
        hashlib.sha256(data.tobytes()).hexdigest()
        times.append(time.perf_counter() - t)
    return float(np.median(times))
