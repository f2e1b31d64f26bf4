"""Measurement helpers that look at the program from outside: process-tree
CPU and the host's stolen CPU time from /proc, Spark's own REST data,
percentiles, drift and spans.

Nothing here imports Spark or the program; it reads what they expose.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ CPU --

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces and parens; the fields after the last ')' are fixed
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """Live descendants of ``root`` (default: this process)."""
    kids = _children()
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        for kid in kids.get(todo.pop(), ()):
            out.append(kid)
            todo.append(kid)
    return out


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return those still alive
    after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    return alive


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of ``root`` (default: this process) and every live
    descendant: utime + stime + cutime + cstime of each. cutime/cstime
    hold the time of children a process has already reaped, so Python
    workers that came and went still count, once, in their parent."""
    root = os.getpid() if root is None else root
    kids = _children()
    total = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        fields = _stat_fields(pid)
        if fields is None:
            continue
        # fields[11..14] are utime, stime, cutime, cstime (stat(5) 14-17)
        total += sum(int(x) for x in fields[11:15])
        todo.extend(kids.get(pid, ()))
    return total / _TICK


# --------------------------------------------------------------- steal --

def host_jiffies() -> tuple[int, int]:
    """(steal, busy) clock ticks of the whole machine since boot, from the
    first line of /proc/stat: the time the hypervisor kept the vCPUs from
    running while they had work, and the time they ran it (user, nice,
    system, irq, softirq)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return steal, user + nice + system + irq + softirq


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time the machine wanted between two
    ``host_jiffies`` readings that the hypervisor gave to someone else."""
    steal, busy = after[0] - before[0], after[1] - before[1]
    return steal / (steal + busy) if steal + busy > 0 else 0.0


# ---------------------------------------------------------- statistics --

def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return s[k - 1]


def tail_supported(n: int, q: float, beyond: int = 10) -> bool:
    """True when a sample of ``n`` has at least ``beyond`` values above
    its q-th percentile, the least the benchmark reports a tail on."""
    return n - max(1, math.ceil(q / 100.0 * n)) >= beyond


def drift(first: list[float], second: list[float]) -> float | None:
    """Relative change of the median from the first half of a run's
    timed ops to the second: near 0 when warm-up reached the plateau."""
    if not first or not second:
        return None
    a = statistics.median(first)
    return (statistics.median(second) - a) / a if a else None


# ---------------------------------------------------------- Spark REST --

class SparkRest:
    """Job and stage totals from the driver's REST API, diffed around an
    op. Reads happen outside every timed region."""

    STAGE_FIELDS = {
        "tasks": "numCompleteTasks",
        "task_run_s": "executorRunTime",       # ms
        "task_cpu_s": "executorCpuTime",       # ns
        "gc_s": "jvmGcTime",                   # ms
        "shuffle_read_bytes": "shuffleReadBytes",
        "shuffle_write_bytes": "shuffleWriteBytes",
        "spill_bytes": "diskBytesSpilled",
    }
    _SCALE = {"task_run_s": 1e-3, "task_cpu_s": 1e-9, "gc_s": 1e-3}

    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url}/api/v1/applications/{app_id}"
        self.max_job = -1
        self.max_stage = -1

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def mark(self) -> None:
        """Forget everything up to now; the next ``since_mark`` counts
        only jobs and stages submitted after this call."""
        self.since_mark()

    def since_mark(self) -> dict[str, float]:
        jobs = [j for j in self._get("jobs") if j["jobId"] > self.max_job]
        stages = [s for s in self._get("stages") if s["stageId"] > self.max_stage]
        if jobs:
            self.max_job = max(j["jobId"] for j in jobs)
        if stages:
            self.max_stage = max(s["stageId"] for s in stages)
        ran = [s for s in stages if s["status"] in ("COMPLETE", "FAILED")]
        out = {"jobs": float(len(jobs)), "stages": float(len(ran))}
        for name, field in self.STAGE_FIELDS.items():
            out[name] = sum(s.get(field, 0) for s in ran) * self._SCALE.get(name, 1)
        return out


# --------------------------------------------------------------- spans --

class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory and written
    out once, at exit. A disabled tracer records nothing and costs one
    branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    def span(self, name: str):
        return _Span(self, name)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = s["end"] - s["start"] - child_s.get(i, 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": self.spans}, f, indent=1)


class _Span:
    __slots__ = ("tracer", "name", "idx", "t0", "elapsed")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.t0 = time.perf_counter()
        tr = self.tracer
        if tr.enabled:
            parent = tr._stack[-1] if tr._stack else None
            tr.spans.append({"name": self.name, "start": self.t0, "end": None,
                             "parent": parent, "op": tr.op})
            self.idx = len(tr.spans) - 1
            tr._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        tr = self.tracer
        if tr.enabled:
            tr.spans[self.idx]["end"] = end
            tr._stack.pop()
        self.elapsed = end - self.t0
        return False
