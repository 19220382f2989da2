"""Spans around calls into the engine's layers, recorded from outside it.

A ``Tracer`` replaces a module or class attribute with a wrapper that
opens a span around each call. The span sets a Spark job group in the
calling thread, so every job the call runs is attributed to the span; on
exit the group's job ids are read from ``SparkContext.statusTracker()``
and the previous group is restored. Stage metrics (shuffle bytes, spill,
executor run time) are read from the application status store after the
run. Reading them runs no Spark action, so tracing adds no job.

Spans stay in memory (name, start, end, parent, run id, attributes, job
ids) and are written as JSONL by ``write_jsonl`` when the run ends.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable

from py4j.protocol import Py4JJavaError

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[Any, str, Any]] = []
        self.parent_hint: int | None = None

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: int | None = None, hint: bool = False, **attrs):
        """Open a span; with ``hint`` it is the parent of spans opened in
        threads that have no span of their own while it is open."""
        with self._lock:
            sid = next(self._ids)
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        group = f"pb-{self.run_id}-{sid}"
        prev = {k: self.sc.getLocalProperty(k) for k in _GROUP_KEYS}
        self.sc.setJobGroup(group, name)
        stack.append(sid)
        outer = self.parent_hint
        if hint:
            self.parent_hint = sid
        t0 = time.time()
        try:
            yield sid
        finally:
            t1 = time.time()
            self.parent_hint = outer
            stack.pop()
            jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
            for k, v in prev.items():
                self.sc.setLocalProperty(k, v)
            rec = {"id": sid, "name": name, "start": t0, "end": t1,
                   "parent": parent, "run": self.run_id, "jobs": jobs, **attrs}
            with self._lock:
                self.spans.append(rec)

    def patch(
        self, owner: Any, attr: str, namer: Callable[..., str] | str, hint: bool = False
    ) -> None:
        """Route ``owner.attr`` through a span named ``namer`` (or
        ``namer(*args, **kwargs)``). The span opens in the calling thread,
        so calls made from a pool thread get their own job group. A call
        from a thread with no open span takes as parent the innermost open
        span patched with ``hint=True`` (the engine's own worker threads
        and streaming callbacks start with an empty stack)."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            name = namer if isinstance(namer, str) else namer(*args, **kwargs)
            parent = None if tracer._stack() else tracer.parent_hint
            with tracer.span(name, parent=parent, hint=hint):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unpatch_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- status store ------------------------------------------------------
    def annotate_stages(self) -> None:
        """Attach Spark stage totals to every span (own jobs only)."""
        stats = StageStats(self.sc)
        for s in self.spans:
            s.update(stats.totals(s["jobs"]))

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


class StageStats:
    """Job and stage totals from the live application status store."""

    def __init__(self, sc):
        self.sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._stages: dict[int, dict] = {}

    def stage(self, sid: int) -> dict:
        if sid not in self._stages:
            try:
                sd = self._store.lastStageAttempt(sid)
                self._stages[sid] = {
                    "ran": sd.status().toString() != "SKIPPED",
                    "shuffle_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "run_ms": sd.executorRunTime(),
                    "output_bytes": sd.outputBytes(),
                }
            except Py4JJavaError:  # evicted from the store: count nothing
                self._stages[sid] = {"ran": False, "shuffle_bytes": 0,
                                     "spill_bytes": 0, "run_ms": 0, "output_bytes": 0}
        return self._stages[sid]

    def totals(self, job_ids) -> dict:
        out = {"n_jobs": len(job_ids), "n_stages": 0, "shuffle_bytes": 0,
               "spill_bytes": 0, "run_ms": 0, "output_bytes": 0}
        tracker = self.sc.statusTracker()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = self.stage(sid)
                if st["ran"]:
                    out["n_stages"] += 1
                    for k in ("shuffle_bytes", "spill_bytes", "run_ms", "output_bytes"):
                        out[k] += st[k]
        return out

    def jobs_between(self, t0: float, t1: float) -> list[int]:
        """Ids of jobs submitted in the wall-clock window [t0, t1)."""
        jvm = self.sc._jvm
        seq = self._store.jobsList(None)
        jobs = jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
        out = []
        for jd in jobs:
            sub = jd.submissionTime()
            if sub.isDefined():
                ts = sub.get().getTime() / 1000.0
                if t0 <= ts < t1:
                    out.append(jd.jobId())
        return sorted(out)
