"""Spans, layer wrappers and Spark status-store readers for traced runs.

A span records a name, start, end, parent and trace id. Spark jobs are
attributed to spans by job-id ranges: the DAG scheduler's job counter is
read when a span opens and closes, and because the benchmark drives the
system as a single client, every job submitted in between belongs to the
span (or to one of its children). The innermost covering span owns it.

Untraced runs use ``NullTracer``: the same ``span`` calls, no bookkeeping.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import threading
import time


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None


class Span:
    __slots__ = ("id", "name", "parent", "trace", "start", "end", "job0", "job1", "thread", "attrs")

    def __init__(self, sid, name, parent, trace, start, job0, attrs):
        self.id, self.name, self.parent, self.trace = sid, name, parent, trace
        self.start, self.end, self.job0, self.job1 = start, None, job0, None
        self.thread = threading.get_ident()
        self.attrs = attrs

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "trace": self.trace,
            "start": self.start,
            "end": self.end,
            "jobs": [self.job0, self.job1],
            **({"attrs": self.attrs} if self.attrs else {}),
        }


# Spans that start a new trace id: one per pass or tick, query or request.
TRACE_ROOTS = {"pass", "tick", "query", "request"}


class Tracer:
    """In-memory span recorder with one span stack per thread. The
    benchmark is a single client, so a span opened on another thread with
    nothing open yet (a foreachBatch callback, an HTTP handler) runs while
    the client thread waits inside the span that becomes its parent."""

    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._stacks: dict[int, list[Span]] = {}
        self._client = threading.get_ident()
        self._lock = threading.Lock()
        self._next_trace = 0
        self._dag = None
        self.overhead_s = 0.0

    def attach(self, spark) -> None:
        self._dag = spark._jsc.sc().dagScheduler()

    def _job(self):
        return None if self._dag is None else int(self._dag.nextJobId())

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        c0 = time.perf_counter()
        with self._lock:
            stack = self._stacks.setdefault(threading.get_ident(), [])
            client = self._stacks.get(self._client) or [None]
            parent = stack[-1] if stack else client[-1]
            if name in TRACE_ROOTS or parent is None:
                trace = self._next_trace
                self._next_trace += 1
            else:
                trace = parent.trace
            sp = Span(len(self.spans), name, parent.id if parent else None, trace, 0.0, self._job(), attrs)
            self.spans.append(sp)
            stack.append(sp)
        c1 = time.perf_counter()
        sp.start = c1
        try:
            yield sp
        finally:
            c2 = time.perf_counter()
            sp.end = c2
            with self._lock:
                sp.job1 = self._job()
                stack.remove(sp)
            self.overhead_s += (c1 - c0) + (time.perf_counter() - c2)

    # -- derived views ----------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[str, float]:
        """Total self time (duration minus children) per span name."""
        kids = self.children()
        out: dict[str, float] = {}
        for s in self.spans:
            if s.end is None:
                continue
            child = sum(c.end - c.start for c in kids.get(s.id, ()) if c.end is not None)
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child
        return out

    def job_owner(self) -> dict[int, Span]:
        """Job id -> innermost span whose job range covers it."""
        owner: dict[int, Span] = {}
        depth: dict[int, int] = {}
        for s in self.spans:
            d = 0 if s.parent is None else depth[s.parent] + 1
            depth[s.id] = d
            if s.job0 is None or s.job1 is None:
                continue
            for j in range(s.job0, s.job1):
                if j not in owner or depth[owner[j].id] < d:
                    owner[j] = s
        return owner

    # A span on another thread than its parent (an HTTP handler) may
    # close just after the client has read the reply and closed its own.
    CROSS_THREAD_SLACK_S = 0.01

    def nesting_ok(self) -> bool:
        """Every span is closed and lies inside its parent's interval."""
        by_id = {s.id: s for s in self.spans}
        for s in self.spans:
            if s.end is None:
                return False
            p = by_id.get(s.parent)
            if p is None:
                continue
            slack = self.CROSS_THREAD_SLACK_S if s.thread != p.thread else 0.0
            if not (p.start <= s.start and s.end <= p.end + slack):
                return False
        return True


def wrap(tracer: Tracer, module, attr: str, span_name: str, before=None, after=None) -> None:
    """Replace ``module.attr`` — and every alias of it imported into a
    loaded package module — with a version that runs inside a span.
    ``before(*a, **kw)`` returns span attributes; ``after(span, a, kw)``
    may add more once the call returns."""
    orig = getattr(module, attr)

    @functools.wraps(orig)
    def traced(*a, **kw):
        with tracer.span(span_name, **(before(*a, **kw) if before else {})) as sp:
            out = orig(*a, **kw)
            if after is not None:
                after(sp, a, kw)
            return out

    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "") or ""
        if not name.startswith("spendinganalysisetl_spark"):
            continue
        for k, v in list(vars(mod).items()):
            if v is orig:
                setattr(mod, k, traced)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# -- Spark status store -----------------------------------------------------


STAGE_FIELDS = (
    ("tasks", "numCompleteTasks", 1),
    ("task_run_ms", "executorRunTime", 1),
    ("task_cpu_ms", "executorCpuTime", 1e-6),
    ("gc_ms", "jvmGcTime", 1),
    ("input_bytes", "inputBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "memoryBytesSpilled", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)


def read_status_store(spark) -> tuple[dict[int, dict], int]:
    """Per-job stage metrics from ``AppStatusStore`` (works with the UI
    disabled). Each stage is charged once, to the lowest job listing it:
    later jobs list reused shuffle stages as skipped. Returns
    ``({job_id: metrics}, cached_bytes)``."""
    sc = spark._jsc.sc()
    store = sc.statusStore()
    gw = spark.sparkContext._gateway
    jobs = store.jobsList(None)
    stage_job: dict[int, int] = {}
    out: dict[int, dict] = {}
    for i in range(jobs.length()):
        j = jobs.apply(i)
        jid = int(j.jobId())
        out[jid] = {"stages": 0, **{k: 0 for k, _, _ in STAGE_FIELDS}}
        ids = j.stageIds()
        for k in range(ids.length()):
            sid = int(ids.apply(k))
            stage_job[sid] = min(jid, stage_job.get(sid, jid))
    stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    for i in range(stages.length()):
        s = stages.apply(i)
        if s.status().toString() != "COMPLETE":
            continue
        jid = stage_job.get(int(s.stageId()))
        if jid is None:
            continue
        m = out[jid]
        m["stages"] += 1
        for key, getter, scale in STAGE_FIELDS:
            m[key] += getattr(s, getter)() * scale
    rdds = store.rddList(True)
    cached = sum(
        int(rdds.apply(i).memoryUsed()) + int(rdds.apply(i).diskUsed())
        for i in range(rdds.length())
    )
    return out, cached


def streaming_listener(spark, sink: list):
    """Register a StreamingQueryListener that appends each progress
    report (as a dict) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append(
                {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs or {}),
                    "state_rows": sum(o.numRowsTotal for o in (p.stateOperators or [])),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return listener
