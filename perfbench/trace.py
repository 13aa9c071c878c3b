"""Benchmark-side tracing: spans around layer calls, Spark event-log
attribution, and process memory.

A span is a named wall-clock interval recorded around one call into a
layer's public function. While a span is open its name is the Spark job
group of the calling thread, and the run's event log (enabled only in
traced runs) carries the jobs, stages and tasks Spark executed. After
the session stops, :func:`attribute` reads the event log and assigns
every job to a span: by job group when the job carries one, otherwise by
the span whose interval holds the job's submission (engine code runs
some jobs from its own threads, which do not inherit the group). The
benchmark is a closed loop with one client, so spans never overlap.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

# Spark's SQL metrics for the JVM <-> Python worker crossing
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_BOOT = "time to start Python workers"


@dataclass
class Span:
    name: str
    t0: float
    t1: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_wall_s: float = 0.0       # union of job intervals inside the span
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_sent_mb: float = 0.0
    python_received_mb: float = 0.0
    python_boot_s: float = 0.0
    _intervals: list = field(default_factory=list, repr=False)

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    @property
    def driver_s(self) -> float:
        """Span wall with no Spark job of the span running."""
        return self.wall_s - self.job_wall_s

    def record(self) -> dict:
        return {k: v for k, v in vars(self).items() if not k.startswith("_")}


class Tracer:
    """Records spans; tags Spark jobs with the span name when enabled."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if self.enabled:
            self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(name, t0, t1))

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]


def event_log_conf(log_dir: str) -> dict:
    """Session conf for an uncompressed, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def attribute(log_dir: str, spans: list[Span]) -> int:
    """Fill each span's Spark counters from the event log in ``log_dir``
    (read after the session stopped). Returns the log size in bytes."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith((".crc", ".inprogress"))]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {paths}")
    by_name = {s.name: s for s in spans}
    ordered = sorted(spans, key=lambda s: s.t0)

    def owner(group, submit_s):
        if group in by_name:
            return by_name[group]
        for s in ordered:
            if s.t0 <= submit_s <= s.t1:
                return s
        return None

    job_span: dict[int, Span] = {}
    job_start: dict[int, float] = {}
    stage_span: dict[int, Span] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                submit = ev["Submission Time"] / 1000.0
                s = owner(props.get("spark.jobGroup.id"), submit)
                if s is None:
                    continue
                jid = ev["Job ID"]
                job_span[jid] = s
                job_start[jid] = submit
                s.jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_span[sid] = s
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_span:
                    job_span[jid]._intervals.append(
                        (job_start[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageCompleted":
                s = stage_span.get(ev["Stage Info"]["Stage ID"])
                if s is not None and ev["Stage Info"].get("Number of Tasks"):
                    s.stages += 1
            elif kind == "SparkListenerTaskEnd":
                s = stage_span.get(ev["Stage ID"])
                if s is None:
                    continue
                s.tasks += 1
                m = ev.get("Task Metrics") or {}
                s.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                s.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                sw = m.get("Shuffle Write Metrics") or {}
                s.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
                s.spill_mb += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0)) / 2**20
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if upd is None:
                        continue
                    if name == _PY_SENT:
                        s.python_sent_mb += int(upd) / 2**20
                    elif name == _PY_RECV:
                        s.python_received_mb += int(upd) / 2**20
                    elif name == _PY_BOOT:
                        s.python_boot_s += int(upd) / 1e9
    for s in spans:
        s.job_wall_s = _union_s(s._intervals)
    return os.path.getsize(paths[0])


# -- memory --------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed VmHWM of this driver process, the JVM and the JVM's live
    descendants (the Python worker daemon and its workers)."""
    kids = _children()
    total = _hwm_mb(os.getpid())
    todo = [jvm_pid]
    while todo:
        pid = todo.pop()
        total += _hwm_mb(pid)
        todo.extend(kids.get(pid, []))
    return total
