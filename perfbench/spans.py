"""Spans recorded around calls into the package, plus Spark's own job,
stage and task accounting, read from outside the package.

Spans (name, start, end, parent, operation id) are kept in memory and
written out when the run ends. Spark accounting comes from the Spark driver's
live status store (the data behind Spark's UI and REST API; it exists
with the UI disabled), read once after the timed loop. Each Spark job
is attributed to the latest-started span that was open when the job
was submitted; jobs that the package's own worker threads submit (the
traversal prefetch pool, the insert's write pool) thereby fall in the
span open around them.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start_ms: float  # wall clock, epoch milliseconds (Spark's clock)
    end_ms: float = 0.0
    start: float = 0.0  # perf_counter seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``active`` switches recording on and off, so a
    traced run can interleave traced and untraced operations. Spans
    opened on a thread with no open span of its own (the package's
    worker threads) get the client thread's outermost open span as
    parent."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root: Span | None = None
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if stack:
            parent = stack[-1].id
        else:
            parent = self._root.id if self._root is not None else None
        s = Span(next(self._ids), name, parent, self.op, time.time() * 1000.0, attrs=attrs)
        s.start = time.perf_counter()
        stack.append(s)
        is_root = parent is None
        if is_root:
            self._root = s
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.end_ms = time.time() * 1000.0
            stack.pop()
            if is_root:
                self._root = None
            self.spans.append(s)

    def wrap(self, obj, attr: str, name: str, on_call=None) -> None:
        """Replace ``obj.attr`` by a wrapper that records a span around
        each call; ``on_call(span, args, kwargs, result)`` may add
        attributes."""
        inner = getattr(obj, attr)

        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                result = inner(*args, **kwargs)
                if s is not None and on_call is not None:
                    on_call(s, args, kwargs, result)
                return result

        setattr(obj, attr, wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@dataclass
class Job:
    id: int
    description: str
    submitted_ms: float
    completed_ms: float
    stages: list[dict]  # completed stage attempts with their tasks

    def total(self, key: str) -> float:
        return sum(s.get(key, 0) or 0 for s in self.stages)

    @property
    def tasks(self) -> list[dict]:
        return [t for s in self.stages for t in (s.get("tasks") or {}).values()]


class SparkAccounting:
    """Jobs, stages and tasks from the live status store."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper.registerModule(scala_module)

    def jobs(self) -> list[Job]:
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        jobs = json.loads(self._mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = self.spark.sparkContext._gateway.new_array(self.spark._jvm.double, 0)
        stages = json.loads(
            self._mapper.writeValueAsString(
                store.stageList(None, True, False, no_quantiles, None)
            )
        )
        by_id: dict[int, dict] = {}
        for st in stages:
            if st.get("status") == "COMPLETE":
                by_id[st["stageId"]] = st  # last complete attempt wins
        out = []
        for j in jobs:
            if j.get("submissionTime") is None:
                continue
            out.append(
                Job(
                    id=j["jobId"],
                    description=j.get("description") or "",
                    submitted_ms=float(j["submissionTime"]),
                    completed_ms=float(j.get("completionTime") or j["submissionTime"]),
                    stages=[by_id[s] for s in j["stageIds"] if s in by_id],
                )
            )
        return sorted(out, key=lambda j: j.id)


def attribute(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """span id -> jobs submitted while it was the innermost open span."""
    out: dict[int, list[Job]] = {s.id: [] for s in spans}
    for job in jobs:
        best = None
        for s in spans:
            if s.start_ms <= job.submitted_ms <= s.end_ms and (
                best is None or s.start_ms >= best.start_ms
            ):
                best = s
        if best is not None:
            out[best.id].append(job)
    return out


def subtree(spans: list[Span], root: Span) -> list[Span]:
    children: dict[int | None, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s.id, []))
    return out


def jobs_under(spans: list[Span], owned: dict[int, list[Job]], root: Span) -> list[Job]:
    return [j for s in subtree(spans, root) for j in owned.get(s.id, [])]
