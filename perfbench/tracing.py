"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side of each public call: the
module attributes the CLI resolves at call time are swapped for traced
wrappers (``instrument``), and the LocalFS document store is swapped for
a proxy that times every store call inside the Python workers.  Spans
are held in memory and written out when the run ends.

A *launching* span owns a Spark job group; when it closes, the span
reads that group's counters from Spark's status stores (job and stage
data from the AppStatusStore, SQL metrics from the SQLAppStatusStore).
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from org_revue_de_presse_trends_spark.sources.document_sink import (
    LocalFSDocumentStore,
)

#: counters every launching span carries, summed over its jobs
LAUNCH_COUNTERS = (
    "driver_s", "jobs", "tasks", "stage_cpu_s", "gc_s", "files_read",
    "bytes_read", "shuffle_write_bytes", "spill_bytes", "sql_executions",
)

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _sql_metric_total(text: str) -> float:
    """Total of a rendered SQL metric: ``'1,500'``, ``'35.8 KiB'`` or the
    multi-task form whose last line starts with the total."""
    lines = text.strip().splitlines()
    if not lines:
        return 0.0
    head = lines[-1].split("(", 1)[0].strip()
    m = re.match(r"^(-?[\d.,]+)\s*([A-Za-z]*)$", head)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2), 1)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int = -1
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for one SparkSession."""

    def __init__(self, spark, out_path: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.out_path = out_path
        self.spans: list[Span] = []
        self.enabled = False
        self.op = -1
        self._stack: list[int] = []
        self._pending: list[tuple] = []
        #: seconds spent in span bookkeeping inside traced operations
        self.cost = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        s = Span(name, t,
                 parent=self._stack[-1] if self._stack else None, op=self.op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        self.cost += time.perf_counter() - t
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    @contextmanager
    def launching(self, name: str):
        """A span whose Spark jobs run in its own job group.  Its counters
        are read by ``read_counters``, after the operation's clock stops."""
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        group = f"perfbench-{uuid.uuid4().hex}"
        n_exec = self._sql_store().executionsCount()
        self.sc.setJobGroup(group, name, False)
        self.cost += time.perf_counter() - t
        with self.span(name) as s:
            try:
                yield s
            finally:
                t = time.perf_counter()
                self.sc.setJobGroup("", "", False)
                n_end = self._sql_store().executionsCount()
                self._pending.append((group, s, n_exec, n_end))
                self.cost += time.perf_counter() - t

    def read_counters(self) -> None:
        for group, s, n_exec, n_end in self._pending:
            s.counters = self._group_counters(group, s, n_exec, n_end)
        self._pending.clear()

    def _group_counters(self, group, s, n_exec, n_end) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        c = dict.fromkeys(LAUNCH_COUNTERS, 0.0)
        intervals, call_sites = [], set()
        for jid in tracker.getJobIdsForGroup(group):
            job = store.job(jid)
            c["jobs"] += 1
            if ".py:" in job.name():  # an action called from Python code
                call_sites.add(job.name())
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime() / 1e3,
                                  job.completionTime().get().getTime() / 1e3))
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage evicted or never run
                    continue
                c["tasks"] += st.numCompleteTasks()
                c["stage_cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["bytes_read"] += st.inputBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        c["driver_s"] = max(s.dur - _union_length(intervals), 0.0)
        c["actions"] = len(call_sites)
        sql_store = self._sql_store()
        execs = sql_store.executionsList(n_exec, n_end - n_exec)
        for i in range(execs.size()):
            ex = execs.apply(i)
            c["sql_executions"] += 1
            values = sql_store.executionMetrics(ex.executionId())
            it = ex.metrics().iterator()
            while it.hasNext():
                m = it.next()
                if m.name() == "number of files read":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        c["files_read"] += _sql_metric_total(v.get())
        return c

    def write(self) -> None:
        with open(self.out_path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "counters": s.counters,
                }) + "\n")

    def self_times(self, ops: set[int]) -> dict[str, float]:
        """Summed self time per span name over the given operations."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None and s.op in ops:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.op in ops:
                out[s.name] = out.get(s.name, 0.0) + s.dur - child[i]
        return out

    def counters(self, name: str, ops: set[int]) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s.name == name and s.op in ops:
                for k, v in s.counters.items():
                    out[k] = out.get(k, 0.0) + v
        return out


def instrument(tracer: Tracer) -> None:
    """Swap the worker path's public entry points for traced wrappers.

    ``cli.main`` resolves ``load_domain_tables`` and ``TrendsPipeline``
    from its module and imports ``write_highlights`` and
    ``LocalFSDocumentStore`` from the sink module when it runs, so the
    wrappers are picked up without touching the program."""
    from org_revue_de_presse_trends_spark import cli
    from org_revue_de_presse_trends_spark.sources import document_sink

    load_tables = cli.load_domain_tables
    write_highlights = document_sink.write_highlights

    def traced_load(*a, **k):
        with tracer.span("cli.load_domain_tables"):
            return load_tables(*a, **k)

    class TracedPipeline(cli.TrendsPipeline):
        def __init__(self, *a, **k):
            with tracer.span("plans.trends.build"):
                super().__init__(*a, **k)

        def all_variants(self, *a, **k):
            with tracer.span("plans.trends.build"):
                return super().all_variants(*a, **k)

        def count_highlights(self, *a, **k):
            with tracer.launching("plans.trends.count_highlights"):
                return super().count_highlights(*a, **k)

    def traced_write(*a, **k):
        with tracer.launching("sources.document_sink.write_highlights"):
            return write_highlights(*a, **k)

    cli.load_domain_tables = traced_load
    cli.TrendsPipeline = TracedPipeline
    document_sink.write_highlights = traced_write
    document_sink.LocalFSDocumentStore = TracedStore


class TracedStore(LocalFSDocumentStore):
    """LocalFS document store that times each call.

    Built by the sink's ``store_factory`` in the driver (subtree deletes)
    and in every Python worker partition (record updates), where one
    instance serves the partition's whole thread pool.  Timings go to
    ``{root}.trace/`` at ``close``; ``store_stats`` sums them."""

    def __init__(self, root: str):
        super().__init__(root)
        self._dir = root.rstrip("/") + ".trace"
        self._lock = threading.Lock()
        self._stats = {"updates": 0, "update_s": 0.0,
                       "deletes": 0, "delete_s": 0.0}

    def _timed(self, kind: str, fn, *a):
        t = time.perf_counter()
        try:
            return fn(*a)
        finally:
            d = time.perf_counter() - t
            with self._lock:
                self._stats[kind + "s"] += 1
                self._stats[kind + "_s"] += d

    def update(self, path: str, record: dict) -> None:
        self._timed("update", super().update, path, record)

    def delete_subtree(self, path: str) -> None:
        self._timed("delete", super().delete_subtree, path)

    def close(self) -> None:
        super().close()
        os.makedirs(self._dir, exist_ok=True)
        name = f"{os.getpid()}-{uuid.uuid4().hex}.json"
        with open(os.path.join(self._dir, name), "w") as f:
            json.dump({**self._stats, "t": time.time()}, f)


def store_stats(root: str, windows) -> dict[str, float]:
    """Sum the store-call timings written under ``{root}.trace/`` by
    stores closed inside one of the ``(start, end)`` wall-clock windows."""
    out = {"updates": 0, "update_s": 0.0, "deletes": 0, "delete_s": 0.0}
    for p in glob.glob(os.path.join(root.rstrip("/") + ".trace", "*.json")):
        with open(p) as f:
            stats = json.load(f)
        if any(a <= stats["t"] <= b for a, b in windows):
            for k in out:
                out[k] += stats[k]
    return out
