"""Span tracer and Spark stage counters for the traced benchmark run.

The tracer wraps public functions of the package from the outside (the
package itself carries no tracing), records one span per call and
keeps the spans in memory until the run ends.  A span holds its name,
start, end, parent span and op id; the parent is the innermost open
span of the calling thread, or, for a thread with no open span (an
HTTP handler thread of the SQL endpoint), the innermost open span of
the benchmark's own thread, which is blocked waiting for it.

Spark counters come from the SparkContext's status store (stage data:
tasks, ``executorRunTime``, GC, shuffle and spill bytes), attributed to
an op by the range of job ids the op launched.  Ops run one at a time,
so every job between an op's start and end belongs to it.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    """Records spans for wrapped callables while ``enabled`` is true."""

    def __init__(self, job_counter) -> None:
        self.enabled = False
        self.op: int | None = None
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        #: callable giving Spark's next job id; spans opened with
        #: ``count_jobs`` record the jobs launched inside them
        self._job_counter = job_counter

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def span(self, name: str, *, count_jobs: bool = False):
        """Context manager recording one span around a block."""
        return _Span(self, name, count_jobs)

    def wrap(self, owner, attr: str, name: str, *, count_jobs: bool = False) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per call."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with _Span(tracer, name, count_jobs):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, count_jobs: bool) -> None:
        self.t = tracer
        self.name = name
        self.count_jobs = count_jobs

    def __enter__(self):
        t = self.t
        if not t.enabled:
            self.sid = None
            return self
        stack = t._stack()
        if stack:
            self.parent = stack[-1]
        else:
            self.parent = t._main_stack[-1] if t._main_stack else None
        self.sid = next(t._ids)
        self.op = t.op
        stack.append(self.sid)
        self.jobs0 = t._job_counter() if self.count_jobs else None
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        if self.sid is None:
            return False
        t1 = time.perf_counter()
        t = self.t
        t._stack().pop()
        rec = {
            "id": self.sid, "name": self.name, "start": self.t0, "end": t1,
            "parent": self.parent, "op": self.op,
        }
        if self.jobs0 is not None:
            rec["jobs"] = t._job_counter() - self.jobs0
        t.spans.append(rec)
        return False


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
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
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_totals(spans: list[dict], ops: set) -> dict[str, dict[str, float]]:
    """Per span name: summed inclusive seconds, self seconds, call count
    and eager jobs over the spans of the given op ids."""
    selfs = self_times(spans)
    tot: dict[str, dict[str, float]] = defaultdict(
        lambda: {"incl": 0.0, "self": 0.0, "calls": 0, "jobs": 0}
    )
    for s in spans:
        if s["op"] not in ops:
            continue
        t = tot[s["name"]]
        t["incl"] += s["end"] - s["start"]
        t["self"] += selfs[s["id"]]
        t["calls"] += 1
        t["jobs"] += s.get("jobs", 0)
    return tot


class SparkCounters:
    """Job, stage and task counters read from the SparkContext's status store."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def between(self, first_job: int, end_job: int) -> dict[str, int]:
        """Counters of the jobs with ids in ``[first_job, end_job)``."""
        self._bus.waitUntilEmpty()
        out = {"jobs": end_job - first_job, "stages": 0, "tasks": 0,
               "task_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0, "gc_ms": 0}
        stage_ids = set()
        for jid in range(first_job, end_job):
            ids = self._store.job(jid).stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.length()))
        for sid in sorted(stage_ids):
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(st.numTasks())
            out["task_ms"] += int(st.executorRunTime())
            out["gc_ms"] += int(st.jvmGcTime())
            out["shuffle_bytes"] += int(st.shuffleWriteBytes())
            out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(
                st.diskBytesSpilled()
            )
        return out
