"""Tracing for the benchmark's traced run: spans around the package's
public functions, Spark status-store job/stage totals, and a streaming
progress listener.

Spans are kept in memory and written once at exit. Every reading here
comes from outside the program: wrappers installed on module and class
attributes, the Spark driver's ``AppStatusStore`` (works with the UI
disabled) and a ``StreamingQueryListener``.
"""

from __future__ import annotations

import functools
import sys
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

PACKAGE = "etl_fraud_detection_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """Records nested spans; ``instrument`` wraps functions so each call
    becomes a span named by ``namer(*args, **kwargs)`` (or a fixed name).
    ``cost_s`` is the time spent recording spans: the tracing overhead,
    measured in the traced run itself."""

    def __init__(self):
        self.spans: list[Span] = []
        self.cost_s = 0.0
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> Span:
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent)
        self.spans.append(s)
        self._stack.append(s.id)
        self.cost_s += time.perf_counter() - t
        return s

    def end(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.remove(s.id)
        self.cost_s += time.perf_counter() - s.end

    def wrap(self, fn, name):
        namer = name if callable(name) else (lambda *a, **k: name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t = time.perf_counter()
            name = namer(*args, **kwargs)
            self.cost_s += time.perf_counter() - t
            s = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(s)

        return traced

    def instrument(self, owner, attr: str, name) -> None:
        """Wrap ``owner.attr``. A plain function is also replaced in every
        loaded package module that imported it by name, so calls through
        ``from x import f`` are traced too."""
        orig = getattr(owner, attr)
        wrapped = self.wrap(orig, name)
        holders = [owner]
        if not isinstance(owner, type):
            holders += [m for n, m in list(sys.modules.items())
                        if n.startswith(PACKAGE) and m is not owner
                        and getattr(m, attr, None) is orig]
        for h in holders:
            self._patches.append((h, attr, orig))
            setattr(h, attr, wrapped)

    def uninstall(self) -> None:
        for h, attr, orig in reversed(self._patches):
            setattr(h, attr, orig)
        self._patches.clear()

    def to_json(self, t0: float = 0.0) -> list[dict]:
        return [{"id": s.id, "name": s.name, "start": s.start - t0,
                 "end": s.end - t0, "parent": s.parent} for s in self.spans]


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        inside = [(max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, [])]
        out[s.id] = (s.end - s.start) - union_length([i for i in inside if i[1] > i[0]])
    return out


def summarize(spans: list[Span]) -> dict[str, dict]:
    """Per span name: call count, inclusive seconds and self seconds."""
    st = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += s.end - s.start
        row["self_s"] += st[s.id]
    return out


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def wait_listener_bus(spark) -> None:
    """Wait until the Spark listener bus has delivered every posted event
    (job, stage and streaming-progress events alike) to its listeners."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class StatusReader:
    """Job and stage totals from the Spark driver's status store. Jobs are
    selected by id range, so every job an operation caused is counted,
    including micro-batch jobs that run under a stream's own job group."""

    STAGE_FIELDS = ("tasks", "task_s", "task_cpu_s", "gc_s",
                    "shuffle_write_bytes", "spill_bytes")

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.jvm = spark.sparkContext._jvm
        self.store = self.sc.statusStore()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(self.jvm.double, 0)
        self._no_status = self.jvm.java.util.ArrayList()

    def _list(self, seq):
        return list(self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def drain(self) -> None:
        """Wait until the listener bus has applied every event, so the
        store holds the jobs that just ended."""
        self.sc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self.drain()
        ids = [j.jobId() for j in self._list(self.store.jobsList(None))]
        return max(ids, default=-1)

    def jobs(self, after: int) -> list[dict]:
        """Jobs with ``jobId > after``: id, group, wall interval (epoch
        seconds) and stage ids."""
        self.drain()
        out = []
        for j in self._list(self.store.jobsList(None)):
            jid = j.jobId()
            if jid <= after:
                continue
            sub, done = j.submissionTime(), j.completionTime()
            grp = j.jobGroup()
            out.append({
                "id": jid,
                "group": grp.get() if grp.isDefined() else None,
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                "stages": [int(s) for s in self._list(j.stageIds())],
            })
        return out

    def stage_totals(self, jobs: list[dict]) -> dict[str, float]:
        """Sum the stage metrics of every stage attempt the jobs ran
        (skipped stages ran no tasks and add nothing)."""
        tot = dict.fromkeys(("stages",) + self.STAGE_FIELDS, 0.0)
        seen = set()
        for j in jobs:
            for sid in j["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = self._list(self.store.stageData(
                        sid, False, self._no_status, False, self._no_quantiles))
                except Py4JJavaError:  # evicted from the store: count nothing
                    continue
                for st in attempts:
                    if st.status().toString() == "SKIPPED":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    tot["task_s"] += st.executorRunTime() / 1e3
                    tot["task_cpu_s"] += st.executorCpuTime() / 1e9
                    tot["gc_s"] += st.jvmGcTime() / 1e3
                    tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot


def catalyst_phases_ms(df) -> dict[str, float]:
    """analysis/optimization/planning ms of an executed DataFrame's
    QueryExecution (``QueryPlanningTracker``)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        o = phases.get(p)
        out[p] = float(o.get().durationMs()) if o.isDefined() else 0.0
    return out


def stream_listener(spark):
    """Register and return a listener that keeps every progress event
    (as its JSON dict) and the set of terminated run ids."""
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated: set[str] = set()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.add(str(event.runId))

    lst = Listener()
    spark.streams.addListener(lst)
    return lst


def process_tree_peak_rss_mb(pid: int) -> float:
    """Sum of peak resident sets (VmHWM) over ``pid`` and all of its live
    descendants — the Python driver process, the JVM and the Python workers."""
    import os

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
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo += children.get(p, [])
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
