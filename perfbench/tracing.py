"""Span tracing from outside the package, plus process and Spark counters.

The benchmark never edits the package: :class:`Tracer` wraps public entry
points by rebinding the attribute in the defining module and in every
loaded module that imported the same function object by name (jobs import
``write_table``/``read_table`` directly, so patching only the defining
module would miss their calls). Spans live in memory and are written out
once at the end.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    sid: int


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[a, b)`` intervals."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Records spans (name, start, end, parent span, operation id) and
    named counters. Disabled tracers install nothing and record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._lock = threading.Lock()
        self._local = threading.local()

    def __reduce__(self):
        # wrapped functions of modules the package pickles by value reach
        # Python workers; there they record into a throwaway tracer
        return (Tracer, (False,))

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_op(self, op: str | None) -> None:
        """Operation id inherited by spans opened on this thread."""
        self._local.op = op

    def span(self, name: str):
        return _SpanCtx(self, name)

    def charge(self, seconds: float) -> None:
        """Add ``seconds`` to the tracing overhead."""
        with self._lock:
            self.overhead_s += seconds

    def count(self, name: str, value: float = 1.0) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.counters[name] = self.counters.get(name, 0.0) + value

    def _open(self, name: str) -> tuple[int, float]:
        st = self._stack()
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                Span(name, 0.0, 0.0, st[-1] if st else None,
                     getattr(self._local, "op", None), sid)
            )
        st.append(sid)
        t = time.perf_counter()
        self.spans[sid].start = t
        return sid, t

    def _close(self, sid: int) -> None:
        t = time.perf_counter()
        self.spans[sid].end = t
        self._stack().pop()

    # -- wrapping ----------------------------------------------------------
    def wrap(self, module, attr: str, name: str, after=None) -> None:
        """Replace ``module.attr`` (and every by-name import of the same
        function in loaded modules) with a span-recording wrapper.
        ``after(arguments, span)`` runs once the call returns, with the
        call's arguments bound to parameter names, and may record
        counters; its time is charged to the overhead."""
        if not self.enabled:
            return
        orig = getattr(module, attr)
        sig = inspect.signature(orig) if after is not None else None
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            sid, t1 = tracer._open(name)
            tracer.charge(t1 - t0)
            try:
                res = orig(*args, **kwargs)
            finally:
                tracer._close(sid)
            if after is not None:
                t2 = time.perf_counter()
                try:
                    after(sig.bind(*args, **kwargs).arguments, tracer.spans[sid])
                finally:
                    tracer.charge(time.perf_counter() - t2)
            return res

        for mod in list(sys.modules.values()):
            if mod is not None and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapper)

    # -- derived -----------------------------------------------------------
    def named(self, prefix: str, t0: float, t1: float) -> list[Span]:
        return [
            s for s in self.spans
            if s.name.startswith(prefix) and s.start >= t0 and s.end <= t1
        ]

    def total(self, prefix: str, t0: float, t1: float) -> float:
        return sum(s.end - s.start for s in self.named(prefix, t0, t1))

    def self_time(self, prefix: str, child_prefixes: tuple[str, ...], t0: float, t1: float) -> float:
        """Sum over ``prefix`` spans of duration minus the union of the
        ``child_prefixes`` spans inside the span's interval. Children are
        matched by time, not by parent link, because ``run_waves`` runs
        jobs on pool threads that do not see the caller's span stack."""
        kids = [s for s in self.spans if s.name.startswith(child_prefixes)]
        out = 0.0
        for p in self.named(prefix, t0, t1):
            cover = [
                (max(c.start, p.start), min(c.end, p.end))
                for c in kids
                if c.end > p.start and c.start < p.end
            ]
            out += (p.end - p.start) - union_length(cover)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "counters": self.counters,
                    "overhead_s": self.overhead_s,
                },
                f,
            )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.sid = tracer, name, None

    def __enter__(self):
        if self.tracer.enabled:
            t0 = time.perf_counter()
            self.sid, t1 = self.tracer._open(self.name)
            self.tracer.charge(t1 - t0)
        return self

    def __exit__(self, *exc):
        if self.sid is not None:
            self.tracer._close(self.sid)
        return False


# ---------------------------------------------------------------------------
# CPU time of this process, the JVM and its Python workers
# ---------------------------------------------------------------------------


def jvm_pid(spark) -> int:
    name = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getName()
    )
    return int(name.split("@")[0])


def _processes() -> dict[int, tuple[int, list[str]]]:
    """pid -> (parent pid, /proc/<pid>/stat fields after the command)."""
    out = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as f:
                rest = f.read().rsplit(") ", 1)[1].split()
        except (OSError, IndexError):
            continue
        out[int(ent)] = (int(rest[1]), rest)
    return out


def _tree(root_pid: int, procs) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def descendants(root_pid: int) -> list[int]:
    return _tree(root_pid, _processes())[1:]


def alive(pid: int) -> bool:
    st = _processes().get(pid)
    return st is not None and st[1][0] != "Z"


def cpu_seconds(root_pid: int) -> float:
    """CPU seconds of this process plus the process tree under
    ``root_pid``: utime+stime of each live process and the cutime+cstime
    it reaped, so exited workers are counted once through their parent."""
    procs = _processes()
    ticks = sum(
        sum(int(procs[pid][1][i]) for i in (11, 12, 13, 14))
        for pid in _tree(root_pid, procs)
        if pid in procs
    )
    me = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + me.user + me.system


# ---------------------------------------------------------------------------
# Spark job/stage counters per job group, from the status REST API
# ---------------------------------------------------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def spark_group_metrics(spark, groups: set[str]) -> dict[str, float]:
    """Jobs, stages, tasks, input and shuffle-write bytes and task run time
    of every Spark job whose job group is in ``groups``. Reads the
    application's status API on the local UI port."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    jobs = [j for j in _get(f"{base}/jobs") if j.get("jobGroup") in groups]
    stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
    out = {"jobs": float(len(jobs)), "stages": 0.0, "tasks": 0.0,
           "input_bytes": 0.0, "shuffle_write_bytes": 0.0, "task_run_s": 0.0}
    for st in _get(f"{base}/stages"):
        if st["stageId"] in stage_ids and st.get("status") != "SKIPPED":
            out["stages"] += 1
            out["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
            out["input_bytes"] += st.get("inputBytes", 0)
            out["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            out["task_run_s"] += st.get("executorRunTime", 0) / 1000.0
    return out
