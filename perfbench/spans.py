"""Span tracing for the traced benchmark run, installed from outside the
program by wrapping the public calls of each layer.

A span has a name, start, end, parent and the trace id of the client op
it belongs to. Spans stay in memory and are written out at the end.
Spans that can launch Spark jobs run their calling thread under a job
group of their own (restored on exit), and the status tracker later
gives the jobs, stages and tasks under each one.

The client is a single closed loop, so at most one client op is in
flight: spans opened on a server handler thread belong to the op the
client thread registered last.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


def _wrapped_calls():
    """(owner, attribute, span name, launches Spark jobs) per wrapped
    public call, imported lazily so importing this module is free."""
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.operators.serving import DriverMatrixIndex
    from converttovectordb_spark.server import VectorDBApi
    from converttovectordb_spark.sources.store import DocumentStore

    return [
        (VectorDBApi, "query", "server.query", False),
        (VectorDBApi, "hybrid", "server.hybrid", False),
        (VectorDBApi, "add_documents", "server.add_documents", True),
        (DocumentStore, "state_token", "store.state_token", False),
        (DocumentStore, "append", "store.append", True),
        (DocumentStore, "load", "store.load", False),
        (DriverMatrixIndex, "from_dataframe", "serving.fill", True),
        (DriverMatrixIndex, "query", "serving.matrix_query", False),
        (DriverMatrixIndex, "hybrid_query", "serving.hybrid_query", False),
        (VectorEngine, "ingest", "engine.ingest", True),
        (VectorEngine, "build_index", "engine.build_index", True),
        (VectorEngine, "search_indexed", "engine.search_indexed", True),
    ]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.active = True  # the client turns tracing off for untraced ops
        self.phase = "setup"
        self.sc = None  # set once the session exists
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op = (0, None)  # (trace id, root span id) of the op in flight

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, *, spark_group: bool = False):
        if not self.active:
            yield None
            return
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1][0] if stack else self._op[1]
        group = f"perfbench:{sid}" if spark_group and self.sc is not None else None
        if group:
            self.sc.setLocalProperty(_GROUP, group)
        stack.append((sid, group))
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            if group:
                outer = next((g for _, g in reversed(stack) if g), None)
                self.sc.setLocalProperty(_GROUP, outer)
            rec = {
                "id": sid,
                "name": name,
                "parent": parent,
                "trace": self._op[0],
                "phase": self.phase,
                "start": start,
                "end": end,
                "group": group,
            }
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op(self, trace_id: int, name: str, *, spark_group: bool):
        """A client op: the root span every program span of the op hangs
        under, on whichever thread the program runs it. With
        ``spark_group`` it catches jobs the client thread itself starts
        (``collect()`` on a returned DataFrame)."""
        self._op = (trace_id, None)
        with self.span(name, spark_group=spark_group) as sid:
            self._op = (trace_id, sid)
            try:
                yield
            finally:
                self._op = (0, None)

    def install(self) -> None:
        for owner, attr, name, spark_group in _wrapped_calls():
            raw = owner.__dict__[attr]
            is_cm = isinstance(raw, classmethod)
            fn = raw.__func__ if is_cm else raw
            wrapper = self._wrap(fn, name, spark_group)
            setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)

    def _wrap(self, fn, name: str, spark_group: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name, spark_group=spark_group):
                return fn(*args, **kwargs)

        return wrapper

    def finish(self) -> None:
        """Attach self time and the Spark jobs/stages/tasks under each
        span's own job group (exclusive of grouped children)."""
        tracker = self.sc.statusTracker() if self.sc is not None else None
        children: dict = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["self"] = (s["end"] - s["start"]) - _covered(s, children.get(s["id"], []))
            jobs = stages = tasks = failed = 0
            if s["group"] and tracker is not None:
                for jid in tracker.getJobIdsForGroup(s["group"]):
                    info = tracker.getJobInfo(jid)
                    if info is None:
                        continue
                    jobs += 1
                    for stid in info.stageIds:
                        st = tracker.getStageInfo(stid)
                        if st is not None:
                            stages += 1
                            tasks += st.numTasks
                            failed += st.numFailedTasks
            s.update(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)
        # inclusive counts: a span's own group plus every descendant's
        for s in sorted(self.spans, key=lambda r: r["end"] - r["start"]):
            for key in ("jobs", "stages", "tasks", "failed_tasks"):
                s[key + "_incl"] = s[key] + sum(
                    c[key + "_incl"] for c in children.get(s["id"], [])
                )

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _covered(span: dict, kids: list[dict]) -> float:
    """Length of the part of ``span`` that its children cover."""
    total, cur_s, cur_e = 0.0, None, None
    for k in sorted(kids, key=lambda r: r["start"]):
        s, e = max(k["start"], span["start"]), min(k["end"], span["end"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
