"""Per-layer accounting for the traced run, taken from outside the
engine: Spark job tags and the status tracker for job/stage/task counts,
a sampler thread for time inside jobs versus driver gaps, the engine's
own telemetry spans, and runtime wrappers around a few public functions.
Nothing here edits the engine; every wrapper is removed by ``close``.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time
from typing import Optional

POLL_S = 0.005         # BusySampler poll interval

class JobCounter:
    """Jobs, stages and tasks that ran under one Spark job tag."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._tracker = self.sc._jsc.sc().statusTracker()
        self._ids = itertools.count()

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    @contextlib.contextmanager
    def scope(self, prefix: str = "pb"):
        """Tag every job the enclosed code starts from this thread; on
        exit the yielded dict holds jobs/stages/tasks/failed_tasks."""
        tag = f"{prefix}-{os.getpid()}-{next(self._ids)}"
        out: dict = {}
        self.sc.addJobTag(tag)
        try:
            yield out
        finally:
            self.sc.removeJobTag(tag)
            self._drain()
            out.update(self.counts(tag))

    def counts(self, tag: str) -> dict:
        st = self.sc.statusTracker()
        job_ids = list(self._tracker.getJobIdsForTag(tag))
        stages = tasks = failed = 0
        for jid in job_ids:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue  # skipped (reused shuffle) or evicted
                stages += 1
                tasks += s.numCompletedTasks
                failed += s.numFailedTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}


class BusySampler:
    """Polls for active Spark jobs from one thread; ``busy_s`` is the
    running total of wall time during which at least one job was
    active, so an op's job time is the difference across it."""

    def __init__(self, spark):
        self._st = spark.sparkContext.statusTracker()
        self._busy = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="perfbench-sampler")
        self._thread.start()

    def _run(self) -> None:
        last = time.perf_counter()
        while not self._stop.wait(POLL_S):
            active = bool(self._st.getActiveJobsIds())
            now = time.perf_counter()
            if active:
                with self._lock:
                    self._busy += now - last
            last = now

    def busy_s(self) -> float:
        with self._lock:
            return self._busy

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Spans:
    """In-memory spans (name, start, end, parent, op): the harness's own
    op spans, the engine's telemetry spans and the wrapper spans."""

    def __init__(self):
        self.rows: list[dict] = []
        self.op: Optional[str] = None
        self._ids = itertools.count()

    def add(self, name: str, start_ns: int, end_ns: int,
            parent: Optional[str], span_id: Optional[str] = None) -> str:
        sid = span_id or f"h{next(self._ids)}"
        self.rows.append({"id": sid, "name": name, "start_ns": start_ns,
                          "end_ns": end_ns, "parent": parent, "op": self.op})
        return sid

    def self_times(self) -> dict:
        """Total and self milliseconds per span name; self time is the
        span's duration minus the part its children cover."""
        kids: dict = {}
        for r in self.rows:
            kids.setdefault(r["parent"], []).append(r)
        out: dict = {}
        for r in self.rows:
            covered, edge = 0, r["start_ns"]
            for c in sorted(kids.get(r["id"], ()), key=lambda c: c["start_ns"]):
                s, e = max(c["start_ns"], edge), min(c["end_ns"], r["end_ns"])
                if e > s:
                    covered += e - s
                    edge = e
            dur = r["end_ns"] - r["start_ns"]
            agg = out.setdefault(r["name"], {"count": 0, "total_ms": 0.0,
                                             "self_ms": 0.0})
            agg["count"] += 1
            agg["total_ms"] += dur / 1e6
            agg["self_ms"] += (dur - covered) / 1e6
        return out


class Tracer:
    """Everything the traced run installs, in one object."""

    def __init__(self, spark, catalog=None):
        from pixeltable_spark import telemetry, tinyplan

        self.jobs = JobCounter(spark)
        self.sampler = BusySampler(spark)
        self.spans = Spans()
        self.counters: dict = {}
        self._root: Optional[str] = None
        self._telemetry = telemetry
        self._collector = _TelemetryCollector(self)
        self._sub_key = telemetry.subscribe(self._collector)
        self._restore: list = []

        orig_tp = tinyplan.tiny_plan
        tinyplan.tiny_plan = self._wrap_cm("tinyplan.tiny_plan", orig_tp)
        self._restore.append(lambda: setattr(tinyplan, "tiny_plan", orig_tp))
        if catalog is not None:
            store = catalog.commit_store
            store.swap_current = self._wrap_fn("commit_store.swap_current",
                                               store.swap_current)
            store.mutation_guard = self._wrap_guard(store.mutation_guard)
            self._restore.append(lambda: (vars(store).pop("swap_current"),
                                          vars(store).pop("mutation_guard")))

    # -- wrappers --------------------------------------------------------
    def _bump(self, name: str, seconds: float) -> None:
        c = self.counters.setdefault(name, [0, 0.0])
        c[0] += 1
        c[1] += seconds

    def _parent(self) -> Optional[str]:
        cur = self._telemetry.current_span()
        return cur.span_id if cur is not None else self._root

    def _wrap_fn(self, name, fn):
        def wrapper(*args, **kwargs):
            parent, t0 = self._parent(), time.monotonic_ns()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.monotonic_ns()
                self.spans.add(name, t0, t1, parent)
                self._bump(name, (t1 - t0) / 1e9)
        return wrapper

    def _wrap_cm(self, name, cm_fn):
        @contextlib.contextmanager
        def wrapper(*args, **kwargs):
            parent, t0 = self._parent(), time.monotonic_ns()
            try:
                with cm_fn(*args, **kwargs):
                    yield
            finally:
                t1 = time.monotonic_ns()
                self.spans.add(name, t0, t1, parent)
                self._bump(name, (t1 - t0) / 1e9)
        return wrapper

    def _wrap_guard(self, guard_fn):
        """mutation_guard: count the time to ENTER the guard."""
        @contextlib.contextmanager
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            with guard_fn(*args, **kwargs):
                self._bump("commit_store.guard_wait",
                           time.perf_counter() - t0)
                yield
        return wrapper

    # -- per-op accounting -------------------------------------------------
    @contextlib.contextmanager
    def op(self, name: str, acct: dict):
        """Account one op: fills ``acct`` with wall_s, job counts,
        job_busy_s/driver_gap_s, span_s per engine span name and wrapper
        counters. The caller times the op itself."""
        self.spans.op = name
        before = {k: tuple(v) for k, v in self.counters.items()}
        busy0, t0 = self.sampler.busy_s(), time.monotonic_ns()
        self._collector.window = {}
        self._root = f"op{len(self.spans.rows)}"
        with self.jobs.scope() as counts:
            try:
                yield
            finally:
                t1 = time.monotonic_ns()
                busy = self.sampler.busy_s() - busy0
        self.spans.add(f"op.{name}", t0, t1, None, span_id=self._root)
        self._root = None
        wall = (t1 - t0) / 1e9
        acct.update(counts)
        acct["job_busy_s"] = min(busy, wall)
        acct["driver_gap_s"] = max(0.0, wall - busy)
        acct["span_s"] = dict(self._collector.window)
        acct["calls"] = {k: (v[0] - before.get(k, (0, 0.0))[0],
                             v[1] - before.get(k, (0, 0.0))[1])
                         for k, v in self.counters.items()}

    def close(self) -> None:
        self.sampler.close()
        self._telemetry.unsubscribe(self._sub_key)
        for undo in self._restore:
            undo()


class _TelemetryCollector:
    """Telemetry subscriber: engine spans go into the span list (parented
    to the op span when top-level) and their seconds into the current
    op's per-name window."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.window: dict = {}

    def on_span_start(self, span) -> None:
        pass

    def on_span_end(self, span, exc) -> None:
        tr = self.tracer
        tr.spans.add(span.name, span.start_ns, span.end_ns,
                     span.parent_id or tr._root, span_id=span.span_id)
        self.window[span.name] = (self.window.get(span.name, 0.0)
                                  + (span.end_ns - span.start_ns) / 1e9)

    def on_event(self, name, attrs) -> None:
        pass


def file_sizes(root: str) -> dict:
    """path -> size of every file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except (OSError, ValueError):
        pass
    return (py_kb + jvm_kb) / 1024.0
