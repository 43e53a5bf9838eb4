"""Spans and layer counters, recorded from the benchmark's own files.

A span is opened around each call the benchmark makes into a layer (or,
through ``wrap``, around a public function the engine calls). Each span
records its id, its parent's id, its name, its start and end, and
counters taken at the same boundary:

- ``py4j``: Python -> JVM round trips made by the span's own thread
  while it was the innermost open span (object-release messages that
  Python's garbage collector sends at arbitrary times are not counted);
- ``spark.*``: the jobs the span launched, found through a job group set
  per span in the calling thread, with their stages' task metrics from
  the status store (which works with the UI off).

Counters are *self* counts: a parent's total is its own plus its
children's (``totals``). With tracing off every entry point is a no-op,
so the untraced run executes the same benchmark code.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

from py4j import protocol as py4j_proto
from py4j.protocol import Py4JError

SPARK_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.input_bytes",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()
        self._unwrap: list = []
        self._uncount = None
        if enabled:
            self._count_py4j()

    # -- py4j round trips ------------------------------------------------

    def _count_py4j(self) -> None:
        client = self._sc._gateway._gateway_client
        inner = client.send_command
        local = self._local
        memory = py4j_proto.MEMORY_COMMAND_NAME

        def send_command(command, *args, **kwargs):
            stack = getattr(local, "stack", None)
            if stack and not getattr(local, "paused", False):
                if not (isinstance(command, str) and command.startswith(memory)):
                    stack[-1]["_py4j"] += 1
            return inner(command, *args, **kwargs)

        client.send_command = send_command
        self._uncount = lambda: delattr(client, "send_command")

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str, parent_id: int | None = None, **attrs):
        """Open a span in the calling thread; yields its record (or None
        when tracing is off). Its parent is the thread's innermost open
        span, or ``parent_id`` when given (a span in another thread, such
        as the client side of a request)."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": parent_id if parent_id is not None else (
                parent["id"] if parent else None),
            "name": name,
            "attrs": attrs,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "counters": {},
            "_py4j": 0,
        }
        group = f"perfbench-{sid}"
        self._paused(lambda: self._sc.setJobGroup(group, name))
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            rec["counters"]["py4j"] = rec.pop("_py4j")
            self._paused(lambda: self._close_group(rec, group, parent))
            with self._lock:
                self.spans.append(rec)

    def _paused(self, fn):
        self._local.paused = True
        try:
            return fn()
        finally:
            self._local.paused = False

    def _close_group(self, rec: dict, group: str, parent) -> None:
        sc = self._sc
        # task-end events reach the status store through the listener
        # bus asynchronously; drain it so the last job's metrics count
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        c = dict.fromkeys(SPARK_COUNTERS, 0)
        c["spark.jobs"] = len(jobs)
        store = sc._jsc.sc().statusStore()
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JError:  # skipped stage: planned, never run
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += st.numCompleteTasks()
            c["spark.executor_run_ms"] += st.executorRunTime()
            c["spark.executor_cpu_ms"] += st.executorCpuTime() / 1e6
            c["spark.shuffle_read_bytes"] += (
                st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()
            )
            c["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spark.spill_bytes"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            )
            c["spark.input_bytes"] += st.inputBytes()
        rec["counters"].update(c)
        if parent is not None:
            sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # -- wrapping public functions ---------------------------------------

    def wrap(self, owner, attr: str, name, on_result=None, parent_of=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span.
        ``name`` is a string or ``name(args, kwargs)``; ``parent_of(args,
        kwargs)`` may name the parent span's id; ``on_result(result)``
        sees each return value. No-op with tracing off; undone by
        ``unwrap``."""
        if not self.enabled:
            return
        inner = getattr(owner, attr)
        tracer = self

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else name
            parent = parent_of(args, kwargs) if parent_of else None
            with tracer.span(label, parent_id=parent):
                out = inner(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, traced)
        self._unwrap.append(lambda: setattr(owner, attr, inner))

    def unwrap(self) -> None:
        """Undo every ``wrap``."""
        for undo in reversed(self._unwrap):
            undo()
        self._unwrap.clear()

    def close(self) -> None:
        """Undo every ``wrap`` and stop counting py4j round trips."""
        self.unwrap()
        if self._uncount is not None:
            self._uncount()
            self._uncount = None

    # -- read-out --------------------------------------------------------

    def _children(self) -> dict:
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        return kids

    def totals(self) -> dict[int, dict]:
        """Inclusive counters per span id (own + every descendant)."""
        kids = self._children()
        out: dict[int, dict] = {}

        def total(s: dict) -> dict:
            if s["id"] not in out:
                c = dict(s["counters"])
                for k in kids.get(s["id"], []):
                    for key, v in total(k).items():
                        c[key] = c.get(key, 0) + v
                out[s["id"]] = c
            return out[s["id"]]

        for s in self.spans:
            total(s)
        return out

    def under(self, root_id: int) -> list[dict]:
        """The span ``root_id`` and all its descendants."""
        kids = self._children()
        found, todo = [], [s for s in self.spans if s["id"] == root_id]
        while todo:
            s = todo.pop()
            found.append(s)
            todo.extend(kids.get(s["id"], []))
        return found

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)
