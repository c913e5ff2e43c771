"""Measurement helpers: spans, the Spark event-log reducer, /proc readers.

Everything here observes the program from outside. Spans are opened by the
benchmark around calls into the program's public functions; scheduler and
executor figures come from Spark's own event log; CPU and memory come from
``/proc``. Nothing here imports the program.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


def median_and_count(values: list[float]) -> tuple[float, int]:
    """Median of the samples and how many there were (0.0, 0 when empty)."""
    if not values:
        return 0.0, 0
    return float(statistics.median(values)), len(values)


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    unit: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans with a parent stack; written out once, at the end.

    With ``enabled=False`` every call is a no-op, so the untraced body runs
    through the same code with no recording.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def begin(self, name: str, unit: str | None = None, **attrs) -> Span | None:
        if not self.enabled:
            return None
        parent = self.current
        span = Span(
            id=len(self.spans),
            name=name,
            start=time.time(),
            end=0.0,
            parent=parent.id if parent else None,
            unit=unit if unit is not None else (parent.unit if parent else None),
            attrs=attrs,
        )
        self.spans.append(span)
        self._stack.append(span)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.time()
        # close anything opened inside and left open (a raising call)
        while self._stack and self._stack[-1] is not span:
            self._stack.pop().end = span.end
        if self._stack:
            self._stack.pop()

    @contextmanager
    def span(self, name: str, unit: str | None = None, **attrs):
        s = self.begin(name, unit, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the time its children cover."""
        child = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.seconds
        return {s.id: s.seconds - child[s.id] for s in self.spans}

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
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


def clip(intervals: list[tuple[float, float]], lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


# ------------------------------------------------------------ event log


@dataclass
class JobFigures:
    """What the event log says about the jobs of one group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_records: int = 0
    spill_mb: float = 0.0
    job_spans: list = field(default_factory=list)  # [(start_s, end_s)]

    def add(self, other: "JobFigures") -> None:
        for k in (
            "jobs stages tasks run_s cpu_s gc_s shuffle_write_mb shuffle_read_mb "
            "shuffle_write_records spill_mb"
        ).split():
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.job_spans.extend(other.job_spans)


_MB = 1024.0 * 1024.0


def reduce_event_log(lines, known=None, group_of_time=None) -> dict[str, JobFigures]:
    """Fold Spark event-log JSON lines into figures per job group.

    A job belongs to the group in its ``spark.jobGroup.id`` property. A job
    whose group is not in ``known`` (a streaming micro-batch runs on the
    query's own thread, under the run id) is given to
    ``group_of_time(submission_seconds)`` when that is supplied, else kept
    under its own group. Stages and tasks follow their job.
    """
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, JobFigures] = {}
    seen_stage: set[int] = set()

    def fig(g: str) -> JobFigures:
        return out.setdefault(g, JobFigures())

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            submit = ev.get("Submission Time", 0) / 1000.0
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            if known is not None and g not in known and group_of_time is not None:
                g = group_of_time(submit) or g
            job_group[jid] = g
            job_start[jid] = submit
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
            fig(g).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                end = ev.get("Completion Time", 0) / 1000.0
                fig(job_group[jid]).job_spans.append((job_start[jid], end))
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_group and sid not in seen_stage:
                seen_stage.add(sid)
                fig(stage_group[sid]).stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            if g is None:
                continue
            f = fig(g)
            f.tasks += 1
            m = ev.get("Task Metrics") or {}
            f.run_s += m.get("Executor Run Time", 0) / 1000.0
            f.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            f.gc_s += m.get("JVM GC Time", 0) / 1000.0
            w = m.get("Shuffle Write Metrics") or {}
            r = m.get("Shuffle Read Metrics") or {}
            f.shuffle_write_mb += w.get("Shuffle Bytes Written", 0) / _MB
            f.shuffle_write_records += w.get("Shuffle Records Written", 0)
            f.shuffle_read_mb += (
                r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            ) / _MB
            f.spill_mb += m.get("Disk Bytes Spilled", 0) / _MB
    return out


def read_event_log(log_dir: str) -> list[str]:
    """Every line of every event-log file under ``log_dir`` (rolling or not)."""
    lines: list[str] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not path.endswith(".crc"):
            name = os.path.basename(path)
            if name.startswith("appstatus"):
                continue
            with open(path, errors="replace") as f:
                lines.extend(f)
    return lines


# ---------------------------------------------------------------- /proc

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_cpu_s(pid: int, reaped: bool = True) -> float:
    """CPU seconds (user + system) of one process, plus those of its
    children it has already waited for when ``reaped``; 0.0 when it is gone."""
    f = _proc_stat(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if reaped:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK


def children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        f = _proc_stat(int(d))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(d))
    return kids


def tree_pids(root: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = kids if kids is not None else children_of()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def jvm_pid(root: int) -> int | None:
    """The Spark driver JVM started by this process, if any."""
    for pid in tree_pids(root):
        if pid != root and "org.apache.spark.deploy.SparkSubmit" in cmdline(pid):
            return pid
    return None


def vm_hwm_mb(pid: int | None) -> float:
    """Peak resident set (VmHWM) of a process in MB; 0.0 if unavailable."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def host_cpu_s() -> tuple[float, float]:
    """(busy, total) CPU seconds of the whole host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    total = sum(vals[:8])
    return (total - idle) / _CLK, total / _CLK


def cpu_snapshot(root: int, jvm: int | None) -> dict[str, float]:
    """Cumulative CPU seconds of this process tree, the JVM and the Python
    workers, plus the host's busy and total seconds.

    A process that has exited is counted in the parent that reaped it, so
    each second is counted once. Python workers are forked by
    ``pyspark.daemon`` and share its command line.
    """
    tree = pyworker = 0.0
    for pid in tree_pids(root):
        cpu = process_cpu_s(pid)
        tree += cpu
        if "pyspark.daemon" in cmdline(pid):
            pyworker += cpu
    busy, total = host_cpu_s()
    return {
        "tree": tree,
        "jvm": process_cpu_s(jvm, reaped=False) if jvm else 0.0,
        "pyworker": pyworker,
        "host_busy": busy,
        "host_total": total,
    }


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


def host_other_cpu_frac(delta: dict[str, float]) -> float:
    """Share of the host's CPU time used outside this process tree."""
    if delta["host_total"] <= 0:
        return 0.0
    return max(0.0, delta["host_busy"] - delta["tree"]) / delta["host_total"]


def loadavg() -> float:
    return os.getloadavg()[0]
