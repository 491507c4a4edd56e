"""Tracing for the benchmark's traced run: spans, a py4j call counter,
and a Spark event-log fold keyed by span.

Spans are recorded around calls into the engine's layers (the
benchmark wraps the layer functions; the engine itself is unchanged).
Each span sets the Spark job group to its own id before the call, so
every job the call starts -- including AQE's asynchronously submitted
stages, which inherit the group -- can be folded back onto the span
from the event log after the session stops.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float  # time.time() seconds, comparable with event-log ms / 1000
    end: float = 0.0
    py4j_calls: list = field(default_factory=list)  # (start, end) per command

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> its duration minus the part its child spans cover."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - union_length(clip(children.get(s.id, []), s.start, s.end))
        for s in spans
    }


class Tracer:
    """Records nested spans on one thread and counts py4j commands
    against the innermost open span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._restore: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = self._open(name)
        try:
            yield s
        finally:
            self._close(s)

    def _open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(id=f"{name}#{len(self.spans)}", name=name, parent=parent, start=0.0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        s.start = time.time()
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(self._stack[-1].id, self._stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` by ``make(original)``;
        :meth:`uninstall` puts the original back."""
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._restore.append((owner, attr, orig))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Run every call of ``owner.attr`` in a span called ``name``."""

        def make(orig):
            @functools.wraps(orig)
            def traced(*args, **kwargs):
                with self.span(name):
                    return orig(*args, **kwargs)

            return traced

        self.patch(owner, attr, make)

    def count_py4j(self) -> None:
        """Record each py4j command's interval on the innermost span."""
        from py4j import clientserver, java_gateway

        def make(orig):
            def send_command(conn, command, *args, **kwargs):
                t0 = time.time()
                try:
                    return orig(conn, command, *args, **kwargs)
                finally:
                    if self._stack:
                        self._stack[-1].py4j_calls.append((t0, time.time()))

            return send_command

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            self.patch(cls, "send_command", make)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)


# ---------------------------------------------------------------- event log


@dataclass
class JobStats:
    group: str | None
    start: float = 0.0
    end: float = 0.0
    stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    task_cpu_s: float = 0.0
    deser_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    result_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0


_TASK_METRIC_KEYS = {
    "internal.metrics.executorRunTime": ("task_s", 1e-3),
    "internal.metrics.executorCpuTime": ("task_cpu_s", 1e-9),
    "internal.metrics.executorDeserializeTime": ("deser_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.resultSize": ("result_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}


def event_log_lines(log_dir: str):
    """JSON events of every (single-file, uncompressed) application log
    under ``log_dir``."""
    for f in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def fold_event_log(events) -> dict[int, JobStats]:
    """Fold JobStart/JobEnd, StageCompleted and TaskEnd events into
    per-job stats, each job keyed to the job group it ran under."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = JobStats(group=props.get("spark.jobGroup.id"))
            job.start = e["Submission Time"] / 1000
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
            jobs[e["Job ID"]] = job
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job.end = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"]))
            if job is not None:
                job.stages.add((info["Stage ID"], info.get("Stage Attempt ID", 0)))
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"]))
            if job is None:
                continue
            job.tasks += 1
            info = e.get("Task Info") or {}
            if info.get("Failed") or (e.get("Task End Reason") or {}).get(
                "Reason", "Success"
            ) != "Success":
                job.failed_tasks += 1
            updates = {}
            for acc in info.get("Accumulables", []):
                key = _TASK_METRIC_KEYS.get(acc.get("Name"))
                if key is not None:
                    attr, scale = key
                    updates[attr] = updates.get(attr, 0) + float(acc["Update"]) * scale
            for attr, v in updates.items():
                setattr(job, attr, getattr(job, attr) + v)
            # scheduler delay as the Spark UI defines it: the part of the
            # task's wall time not spent deserialising, running, fetching
            # or serialising its result
            wall = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000
            fetch = (
                (info.get("Finish Time", 0) - info["Getting Result Time"]) / 1000
                if info.get("Getting Result Time")
                else 0.0
            )
            job.sched_delay_s += max(
                0.0,
                wall
                - updates.get("task_s", 0.0)
                - updates.get("deser_s", 0.0)
                - fetch,
            )
    return jobs


def _subtree(spans: list[Span], root: Span) -> dict[str, list[Span]]:
    """Span id -> the spans of its subtree (itself included), for the
    subtree under ``root``."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, list[Span]] = {}

    def walk(s: Span) -> list[Span]:
        acc = [s]
        for k in kids.get(s.id, []):
            acc += walk(k)
        out[s.id] = acc
        return acc

    walk(root)
    return out


_JOB_SUMS = (
    "tasks", "failed_tasks", "task_s", "task_cpu_s", "deser_s", "gc_s",
    "sched_delay_s", "result_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


def _fold(span: Span, members: list[Span], jobs_by_group: dict) -> dict:
    jobs = [j for s in members for j in jobs_by_group.get(s.id, [])]
    out = {k: sum(getattr(j, k) for j in jobs) for k in _JOB_SUMS}
    out["jobs"] = len(jobs)
    out["stages"] = len(set().union(*(j.stages for j in jobs)))
    out["s"] = span.duration
    job_iv = clip([(j.start, j.end) for j in jobs], span.start, span.end)
    out["nojob_s"] = span.duration - union_length(job_iv)
    calls = [c for s in members for c in s.py4j_calls]
    out["py4j_calls"] = len(calls)
    # boundary time: inside a py4j command while no Spark job runs (a
    # blocking action's command spans its jobs; that part is job time)
    out["py4j_s"] = union_length(calls + job_iv) - union_length(job_iv)
    return out


def layer_rollup(spans: list[Span], jobs: dict[int, JobStats], root: Span) -> dict:
    """Per-layer totals for the pass under ``root``.

    ``by_name[name]`` sums every span of that name: its duration
    (``s``), self time, and the jobs, task metrics and py4j calls of
    its subtree.  ``total`` is the same fold for the root, and
    ``root_self`` is the part of the pass no child span covers."""
    sub = _subtree(spans, root)
    members = [s for s in spans if s.id in sub]
    selfs = self_times(members)
    jobs_by_group: dict[str, list[JobStats]] = {}
    for j in jobs.values():
        if j.group in sub:
            jobs_by_group.setdefault(j.group, []).append(j)
    by_name: dict[str, dict] = {}
    for s in members:
        if s is root:
            continue
        f = _fold(s, sub[s.id], jobs_by_group)
        f["self_s"] = selfs[s.id]
        acc = by_name.setdefault(s.name, dict.fromkeys(f, 0.0))
        for k, v in f.items():
            acc[k] += v
    return {
        "by_name": by_name,
        "total": _fold(root, sub[root.id], jobs_by_group),
        "root_self": selfs[root.id],
    }
