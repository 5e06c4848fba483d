"""Per-layer metrics of a traced run.

``install`` wraps the public entry points of each layer of
``spendinganalysisetl_spark`` from outside the package; ``finish`` turns
the recorded spans, the Spark status store and the streaming progress
reports into one flat dict of per-layer metrics plus the traced-run
self-checks.
"""

from __future__ import annotations

import statistics
import time

import tracing

from spendinganalysisetl_spark import catalog, registry, serving
from spendinganalysisetl_spark.sources import upsert
from spendinganalysisetl_spark.streaming import jobs


def install(tracer: tracing.Tracer) -> None:
    tracing.wrap(tracer, catalog, "load_table", "catalog.load_table")

    def shared_attrs(spark, sf_dir, name, build):
        hit = registry._SHARED.get((catalog._context_key(spark), sf_dir, name))
        return {"shared": name, "hit": hit is not None and hit.sparkSession is spark}

    tracing.wrap(tracer, registry, "shared", "registry.shared", before=shared_attrs)

    def merged(sp, a, kw):
        sp.attrs["bytes"] = tracing.dir_bytes(upsert._resolve_data_dir(a[1]))

    tracing.wrap(tracer, upsert, "merge_reports", "upsert.merge", after=merged)
    tracing.wrap(tracer, jobs, "run_foreach_batch_upsert", "streaming.drain")

    orig_init = serving.ReportServer.__init__

    def traced_init(self, *a, **kw):
        orig_init(self, *a, **kw)
        handler = self._httpd.RequestHandlerClass
        for method, name in (("do_GET", "serving.dates"), ("do_POST", "serving.summary")):
            setattr(handler, method, _spanned(tracer, getattr(handler, method), name))

    serving.ReportServer.__init__ = traced_init


def _spanned(tracer, fn, name):
    def inner(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)

    return inner


def start(spark, tracer) -> dict:
    progress: list[dict] = []
    tracing.streaming_listener(spark, progress)
    return {"progress": progress}


def _median(xs, scale=1.0):
    return statistics.median(xs) * scale if xs else 0.0


def finish(spark, tracer: tracing.Tracer, state: dict, run: dict) -> dict:
    progress = state["progress"]
    # Listener events arrive asynchronously; let the bus drain.
    for _ in range(20):
        n = len(progress)
        time.sleep(0.1)
        if len(progress) == n:
            break
    job_metrics, cached_bytes = tracing.read_status_store(spark)
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    kids = tracer.children()
    owner = tracer.job_owner()

    def dur(s):
        return s.end - s.start

    def ancestors(s):
        while s.parent is not None:
            s = by_id[s.parent]
            yield s

    def op_of(s):
        """The measured query call or tick a span belongs to, else None."""
        for a in [s, *ancestors(s)]:
            if a.name == "query":
                p = next(x for x in ancestors(a) if x.name == "pass")
                return a if p.attrs["phase"] == "measured" else None
            if a.name == "tick":
                return a if a.attrs["phase"] == "measured" else None
        return None

    def in_cold(s):
        return any(a.attrs.get("phase") == "cold" for a in [s, *ancestors(s)])

    def named(name):
        return [s for s in spans if s.name == name]

    def child(s, name):
        return [c for c in kids.get(s.id, ()) if c.name == name]

    warm_ops = [s for s in spans if s.name in ("query", "tick") and op_of(s) is s]
    n_ops = max(1, len(warm_ops))
    queries = named("query")
    warm_q = [q for q in queries if op_of(q) is q]
    cold_q = [q for q in queries if in_cold(q)]

    # Jobs: fired inside builders vs executed for a warm operation.
    build_jobs = exec_jobs = 0
    totals = {k: 0.0 for k in ("stages", *(f for f, _, _ in tracing.STAGE_FIELDS))}
    for jid, sp in owner.items():
        in_build = any(a.name == "build" for a in [sp, *ancestors(sp)])
        build_jobs += in_build
        if not in_build and op_of(sp) is not None:
            exec_jobs += 1
            for k, v in job_metrics.get(jid, {}).items():
                totals[k] += v
    exec_spans = [e for q in warm_q for e in child(q, "exec")]
    exec_wall = sum(dur(e) for e in exec_spans) or sum(dur(t) for t in warm_ops)
    nproc = run["provenance"]["nproc"]

    shared = named("registry.shared")
    merges = [m for m in named("upsert.merge") if op_of(m) is not None]
    drains = [d for d in named("streaming.drain") if op_of(d) is not None]
    ticks = named("tick")
    data_batches = [p for p in progress if p["rows"] > 0]

    m = {
        "session.get_spark_s": sum(dur(s) for s in named("session.get_spark")),
        "catalog.load_table.calls": len(named("catalog.load_table")),
        "catalog.load_table_s": sum(dur(s) for s in named("catalog.load_table")),
        "registry.build_s.first": sum(dur(b) for q in cold_q for b in child(q, "build")),
        "registry.build_s.warm": _median([dur(b) for q in warm_q for b in child(q, "build")]),
        "registry.build_jobs": build_jobs,
        "registry.shared.builds": sum(not s.attrs["hit"] for s in shared),
        "registry.shared.hits": sum(bool(s.attrs["hit"]) for s in shared),
        "registry.shared.build_s": sum(dur(s) for s in shared if not s.attrs["hit"]),
        "plan.s": _median([dur(p) for q in warm_q for p in child(q, "plan")]),
        **{
            f"plan.{k}_ms": _median([q.attrs.get("phases_ms", {}).get(k, 0) for q in warm_q])
            for k in ("analysis", "optimization", "planning")
        },
        "exec.s": _median([dur(e) for e in exec_spans]),
        "exec.jobs": exec_jobs / n_ops,
        **{f"exec.{k}": v / n_ops for k, v in totals.items()},
        "exec.slot_busy_frac": totals["task_run_ms"] / 1000 / (exec_wall * nproc)
        if exec_wall
        else 0.0,
        "exec.cached_bytes": cached_bytes,
        "upsert.merge_s": sum(dur(s) for s in merges) / n_ops,
        "upsert.commits": len(named("upsert.merge")),
        "upsert.bytes_written_per_input_byte": sum(
            s.attrs.get("bytes", 0) for s in named("upsert.merge")
        )
        / max(1, run.get("landed_bytes", 0)),
        "streaming.drain_s": _median([dur(d) for d in drains]),
        "streaming.batches": len(progress) / max(1, len(ticks)),
        "streaming.input_rows": sum(p["rows"] for p in progress) / max(1, len(ticks)),
        "streaming.trigger_ms": _median(
            [p["duration_ms"].get("triggerExecution", 0) for p in data_batches]
        ),
        "streaming.add_batch_ms": _median(
            [p["duration_ms"].get("addBatch", 0) for p in data_batches]
        ),
        "streaming.state_rows": progress[-1]["state_rows"] if progress else 0,
        "serving.dates_ms": _median([dur(s) for s in named("serving.dates")], 1000),
        "serving.summary_ms": _median([dur(s) for s in named("serving.summary")], 1000),
        "serving.plan_count_per_version": run.get("serve_plan_count", 0)
        / max(1, run.get("commits", 0)),
    }

    # Self-checks of the trace: time inside a query call not covered by
    # build + plan + exec, jobs no span owns, and nesting.
    gaps = [
        (dur(q) - sum(dur(c) for c in kids.get(q.id, ()))) / dur(q)
        for q in queries
        if dur(q) > 0
    ]
    all_jobs = set(job_metrics)
    m["trace.unattributed_frac"] = max(gaps) if gaps else 0.0
    m["trace.job_coverage"] = len(all_jobs & set(owner)) / max(1, len(all_jobs))
    m["trace.nesting_ok"] = int(tracer.nesting_ok())
    m["trace.overhead_ms_per_op"] = tracer.overhead_s * 1000 / max(1, len(run["ops"]))
    return {
        "metrics": m,
        "self_s": tracer.self_times(),
        "jobs_seen": len(all_jobs),
        "jobs_unattributed": sorted(all_jobs - set(owner)),
    }
