"""Span recorder for the traced run.

Everything is measured from outside the program: spans wrap the
benchmark's own calls into each layer, and the counters come from
py4j, ``sc.statusTracker()``, the Spark REST API and a
``StreamingQueryListener``. Spans live in memory and are written out
when the run ends.

A ``Tracer`` that was never ``install``-ed, or whose ``active`` flag is
off, records nothing; its ``span`` context manager then costs one
attribute test, so untraced rounds run the same code path.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import threading
import time
import urllib.request
from dataclasses import dataclass, field

from perfbench.stats import self_time


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    rt: int = 0  # py4j round trips inside the span, children included
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self):
        self.active = False
        self.spans: list[Span] = []
        self.stream_groups: dict[str, int | None] = {}  # runId -> span idx
        self.progress: list[dict] = []
        self.started: dict[str, float] = {}
        self._stack: list[int] = []
        self._rt = 0
        self._counting = True
        self._sc = None
        self._lock = threading.Lock()
        self._unpatch = None

    # -- installation ----------------------------------------------------

    def install(self, spark) -> None:
        """Hook py4j round trips and register the stream listener."""
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command):
            if tracer.active and tracer._counting:
                tracer._rt += 1
            return orig(conn, command)

        ClientServerConnection.send_command = send_command
        self._unpatch = lambda: setattr(ClientServerConnection, "send_command", orig)
        self._sc = spark.sparkContext
        spark.streams.addListener(_progress_listener(self))

    def uninstall(self) -> None:
        if self._unpatch is not None:
            self._unpatch()
            self._unpatch = None

    @contextlib.contextmanager
    def quiet(self):
        """Suspend round-trip counting for the tracer's own py4j calls."""
        prev, self._counting = self._counting, False
        try:
            yield
        finally:
            self._counting = prev

    @contextlib.contextmanager
    def off(self):
        """Record nothing inside: for the benchmark's own checks."""
        prev, self.active = self.active, False
        try:
            yield
        finally:
            self.active = prev

    # -- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, *, group: bool = False, **attrs):
        """Record one span. ``group=True`` runs the Spark jobs started
        inside it under a job group of their own, so jobs can be read
        per span afterwards; the enclosing group is restored on exit."""
        if not self.active:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, parent=parent, attrs=attrs)
        self.spans.append(sp)
        if group:
            sp.group = f"pb{idx}"
            with self.quiet():
                self._sc.setJobGroup(sp.group, name)
        self._stack.append(idx)
        rt0 = self._rt
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.rt = self._rt - rt0
            self._stack.pop()
            if group:
                outer = self._enclosing_grouped(parent)
                with self.quiet():
                    if outer is None:
                        self._sc.setLocalProperty("spark.jobGroup.id", None)
                    else:
                        self._sc.setJobGroup(outer.group, outer.name)

    def _enclosing_grouped(self, idx: int | None) -> Span | None:
        while idx is not None:
            if self.spans[idx].group:
                return self.spans[idx]
            idx = self.spans[idx].parent
        return None

    def top_span(self) -> int | None:
        return self._stack[0] if self._stack else None

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def descendants(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo += [i for i, s in enumerate(self.spans) if s.parent == cur]
        return out

    def self_ms(self, idx: int) -> float:
        sp = self.spans[idx]
        kids = [(c.start, c.end) for c in self.children(idx)]
        return 1000.0 * self_time((sp.start, sp.end), kids)

    # -- Spark-side counters, read after the timed rounds ----------------

    def jobs_by_span(self) -> dict[int, list[int]]:
        """Spark job ids per span: its own job group plus the groups of
        streaming runs started inside it (a stream runs its jobs under
        its runId, not under the caller's group)."""
        out: dict[int, list[int]] = {}
        with self.quiet():
            st = self._sc.statusTracker()
            for idx, sp in enumerate(self.spans):
                if sp.group:
                    out.setdefault(idx, []).extend(st.getJobIdsForGroup(sp.group))
            for run_id, idx in self.stream_groups.items():
                if idx is not None:
                    out.setdefault(idx, []).extend(st.getJobIdsForGroup(run_id))
        return out

    def stages_of(self, job_ids: list[int]) -> list[int]:
        with self.quiet():
            st = self._sc.statusTracker()
            out = []
            for j in job_ids:
                info = st.getJobInfo(j)
                if info is not None:
                    out.extend(info.stageIds)
        return sorted(set(out))

    def stage_metrics(self) -> dict[int, dict]:
        """Executor run/CPU time, shuffle bytes and tasks per stage id,
        summed over attempts, from the REST API of the live UI."""
        with self.quiet():
            url = self._sc.uiWebUrl
            app = self._sc.applicationId
        if not url:
            raise RuntimeError("traced run needs spark.ui.enabled=true")
        with urllib.request.urlopen(
            f"{url}/api/v1/applications/{app}/stages?details=false", timeout=60
        ) as resp:
            stages = json.load(resp)
        out: dict[int, dict] = {}
        for s in stages:
            m = out.setdefault(
                s["stageId"], {"run_ms": 0, "cpu_ms": 0.0, "shuffle_bytes": 0, "tasks": 0}
            )
            m["run_ms"] += s.get("executorRunTime", 0)
            m["cpu_ms"] += s.get("executorCpuTime", 0) / 1e6
            m["shuffle_bytes"] += s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
            m["tasks"] += s.get("numCompleteTasks", 0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent,
                                    "group": s.group, "rt": s.rt, **s.attrs}) + "\n")


def _iso_s(ts: str) -> float:
    return _dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _progress_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            # called synchronously from start(), so the open span is the
            # operation that started this stream
            if tracer.active:
                run_id = str(event.runId)
                tracer.stream_groups[run_id] = tracer.top_span()
                tracer.started[run_id] = _iso_s(event.timestamp)

        def onQueryProgress(self, event):
            p = event.progress
            run_id = str(p.runId)
            if run_id in tracer.started:
                with tracer._lock:
                    tracer.progress.append(
                        {"run": run_id, "ts": _iso_s(p.timestamp),
                         "rows": p.numInputRows, **dict(p.durationMs)}
                    )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def stream_metrics(tracer: Tracer) -> dict[str, float]:
    """Median per micro-batch of each ``durationMs`` phase, and the
    median delay from a query's start to its first trigger."""
    from perfbench.stats import median

    with tracer._lock:
        prog = list(tracer.progress)
    out = {}
    for key in ("triggerExecution", "addBatch", "getBatch", "queryPlanning", "walCommit"):
        vals = [p[key] for p in prog if key in p]
        out[f"stream.{key}_ms"] = float(median(vals)) if vals else 0.0
    first: dict[str, float] = {}
    for p in prog:
        first[p["run"]] = min(first.get(p["run"], p["ts"]), p["ts"])
    starts = [1000.0 * (first[r] - tracer.started[r]) for r in first]
    out["stream.start_ms"] = float(median(starts)) if starts else 0.0
    return out


class Timed:
    """Timing proxy: each listed method call becomes a span named
    ``<layer>.<method>`` with a job group of its own. Other attributes
    pass through untouched."""

    def __init__(self, target, layer: str, methods: tuple[str, ...], tracer: Tracer):
        self._target = target
        self._layer = layer
        self._methods = methods
        self._tracer = tracer

    def __getattr__(self, name):
        attr = getattr(self._target, name)
        if name not in self._methods:
            return attr

        def call(*args, **kwargs):
            with self._tracer.span(f"{self._layer}.{name}", group=True):
                return attr(*args, **kwargs)

        return call
