"""Measurement helpers: medians, spans, Spark stage meters, CPU time.

Nothing here imports the engine; the workloads pass in the live
SparkSession where a meter needs one.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys
import time
import urllib.request
from dataclasses import dataclass, field

def median(values: list[float]) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            total += b - a
            cur = b
    return total


class Tracer:
    """In-memory span recorder. ``span`` is a context manager; spans
    nest through a stack, so a span's parent is the span open when it
    started. Nothing is written until ``dump``."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def self_time(self, idx: int) -> float:
        """Duration of span ``idx`` minus the part its children cover."""
        s = self.spans[idx]
        kids = [(c.start, c.end) for c in self.spans if c.parent == idx]
        return s.duration - covered(kids, s.start, s.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "parent": s.parent,
                    "start": round(s.start, 6), "end": round(s.end, 6),
                    "self_s": round(self.self_time(i), 6), **s.attrs,
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs
        self.idx: int | None = None

    def __enter__(self):
        self.start = time.perf_counter()
        if self.t.enabled:
            parent = self.t._stack[-1] if self.t._stack else None
            self.t.spans.append(Span(self.name, self.start, self.start, parent, dict(self.attrs)))
            self.idx = len(self.t.spans) - 1
            self.t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        if self.idx is not None:
            self.t.spans[self.idx].end = self.end
            self.t._stack.pop()
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start


# ---------------------------------------------------------------------------
# Spark status REST
# ---------------------------------------------------------------------------

STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "numCompleteTasks": "tasks",
    "numFailedTasks": "failed_tasks",
}


def counts_by_group(jobs: list[dict], stages: list[dict]) -> dict[str, dict]:
    """Jobs, stages and stage task metrics per job group, from the
    status REST ``/jobs`` and ``/stages`` lists. A stage shared by
    several jobs counts once, for the first job that lists it; skipped
    and still-running stages count nowhere."""
    owner: dict[int, str] = {}
    out: dict[str, dict] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        group = j.get("jobGroup") or ""
        add_counts(out.setdefault(group, {}), {"jobs": 1})
        for sid in j.get("stageIds", []):
            owner.setdefault(sid, group)
    for s in stages:
        if s.get("status") not in ("COMPLETE", "FAILED") or s["stageId"] not in owner:
            continue
        c = {"stages": 1}
        c.update({dst: s.get(src, 0) or 0 for src, dst in STAGE_FIELDS.items()})
        add_counts(out.setdefault(owner[s["stageId"]], {}), c)
    return out


def fetch_counts_by_group(spark) -> dict[str, dict]:
    """``counts_by_group`` for the live application (needs the UI on)."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(what: str) -> list[dict]:
        with urllib.request.urlopen(f"{base}/{what}", timeout=60) as r:
            return json.load(r)

    return counts_by_group(get("jobs"), get("stages"))


def add_counts(total: dict, delta: dict) -> None:
    for k, v in delta.items():
        total[k] = total.get(k, 0) + v


def idle_share(counts: dict, wall_s: float, cores: int) -> float:
    """Share of core-seconds during ``wall_s`` with no task running."""
    if wall_s <= 0:
        return 0.0
    busy = counts.get("executor_run_ms", 0) / 1000.0
    return max(0.0, 1.0 - busy / (wall_s * cores))


# ---------------------------------------------------------------------------
# process facts
# ---------------------------------------------------------------------------

def descendant_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and every process under it: the JVM with all its
    threads and the Python workers it starts. Time the hypervisor steals
    is not in it, which makes it steadier than wall time on a shared
    host."""
    ticks = 0
    for pid in [os.getpid(), *descendant_pids(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def host_facts(repo: str) -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", repo, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": commit,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "argv": sys.argv[1:],
    }
