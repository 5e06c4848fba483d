"""Spark-side half of the benchmark: one process, one session, one workload.

Started by ``run.py`` with the checkout root as working directory. Writes
its raw samples, correctness verdicts and (traced) spans to ``--out`` as
JSON, then stops Spark.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402
import urllib.request  # noqa: E402

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from spendinganalysisetl_spark import catalog, registry, session, summarizer  # noqa: E402
from spendinganalysisetl_spark.operators import report  # noqa: E402
from spendinganalysisetl_spark.sources import upsert  # noqa: E402
from spendinganalysisetl_spark import serving  # noqa: E402
from spendinganalysisetl_spark.streaming import jobs  # noqa: E402

# The reference's analyst traffic: oracle-backed queries of the report,
# monthly, rollup and window families (the first two built on
# registry._sales / _dense_monthly) and every third TPC-H query. A fixed
# list, so a query added to the registry later does not change what is
# measured. The whole families plus q1-q22 (45 queries) take 110-130 s
# a run on 4 cores, which the benchmark's run budget cannot hold; left
# out are the queries that repeat another one's plan over the same
# intermediate, listed after the mix.
REPORT_MIX = [
    # report: registry._sales
    "report_global_summary",
    "report_fi_summary",
    "category_totals",
    "category_totals_ref_roundsum",
    "top5_vendors",
    "bottom5_vendors_ref_compat",
    "vendor_monthly_trend",
    # monthly: registry._dense_monthly
    "monthly_category_amounts",
    "monthly_pivot_wide",
    "monthly_avg_absent_as_zero",
    "monthly_pct_change_last",
    # rollup
    "rollup_returnflag_linestatus",
    "cube_returnflag_linestatus",
    # window
    "window_top_orders_per_customer",
    "window_monthly_running_total",
    # TPC-H
    "tpch_q1_pricing_summary",
    "tpch_q4_order_priority_exists",
    "tpch_q7_volume_shipping",
    "tpch_q10_returned_items",
    "tpch_q13_customer_distribution",
    "tpch_q16_supplier_part_counts",
    "tpch_q19_disjunctive_revenue",
    "tpch_q22_dormant_rich_customers",
]
# Not in the mix: vendor_totals (category_totals by vendor),
# unique_categories, map_roundtrip_category_totals (category totals
# again), monthly_unpivot_roundtrip (the pivot undone),
# monthly_pct_change_inf_ref (the SQL form of monthly_pct_change_last),
# window_rank_dense_rank, window_rolling_3mo_avg, window_order_navigation
# (more frames over the same windows) and the other 14 TPC-H queries.

# Used only by the self-test: a query whose output disagrees with its
# oracle, to prove a mismatch is counted rather than filtered out.
INJECTED = "perfbench_injected_mismatch"
INJECTED_ORACLE = "SELECT count(*) + 1 AS n FROM lineitem"

# The requests the client sends after each tick, in a seeded order.
GAP_REQUESTS = ["dates", "dates", "dates", "hit", "hit", "hit", "miss", "miss"]
# Passes (or ticks) after the cold one that run but are not measured:
# JIT compilation is still settling there. The cold report pass already
# runs each query of the mix once, and the pass after it reads the same
# as later ones; the cold tick runs its code paths only once.
WARMUP = {"report_session": 0, "ingest_tick": 1}
# The measured work is a fixed number of passes (ticks) per --seconds,
# not a deadline: every run of a workload then does the same work at the
# same point of the JVM's warm-up, whatever the host's speed. These are
# the measured pass and tick-cycle times on a 4-core host.
NOMINAL_PASS_S = 12.0
NOMINAL_TICK_S = 5.0


def measured_count(seconds: float, nominal: float) -> int:
    return max(1, math.ceil(seconds / nominal))


def phase(n: int, warmup: int) -> str:
    return "cold" if n == 0 else "warmup" if n <= warmup else "measured"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- report_session ---------------------------------------------------------


def run_query(spark, tracer, name, fn, data):
    """One closed-loop query call: build + plan + exec. Returns
    ``(cols, rows, error)``. The traced run records each phase as a span,
    then reads the Catalyst phase times from the query's tracker."""
    qe = None
    with tracer.span("query", q=name) as q:
        try:
            with tracer.span("build"):
                df = fn(spark, data)
            if tracer.enabled:
                with tracer.span("plan"):
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
            with tracer.span("exec"):
                out = (df.columns, df.collect(), None)
        except Exception as e:  # counted, never fatal: the loop goes on
            out = (None, None, f"{type(e).__name__}: {str(e)[:300]}")
    if qe is not None:
        phases = qe.tracker().phases()
        q.attrs["phases_ms"] = {
            k: int(phases.get(k).get().durationMs())
            for k in ("analysis", "optimization", "planning")
            if phases.get(k).isDefined()
        }
    return out


def report_session(spark, args, tracer) -> dict:
    data = args.data
    queries = {n: registry.QUERIES[n] for n in REPORT_MIX}
    oracles = {n: registry.ORACLE[n] for n in REPORT_MIX}
    if args.inject_failure:
        queries[INJECTED] = lambda s, d: catalog.load_table(s, d, "lineitem").agg(
            F.count(F.lit(1)).alias("n")
        )
        oracles[INJECTED] = INJECTED_ORACLE
    warmup = WARMUP["report_session"]
    rng = random.Random(args.seed)
    calls = []  # {"pass", "q", "s", "error"}
    first_rows, hashes = {}, {}
    passes = []

    def one_pass(p):
        order = list(queries)
        rng.shuffle(order)
        t = time.perf_counter()
        with tracer.span("pass", n=p, phase=phase(p, warmup)):
            for name in order:
                c0 = time.perf_counter()
                cols, rows, err = run_query(spark, tracer, name, queries[name], data)
                calls.append({"pass": p, "q": name, "s": time.perf_counter() - c0, "error": err})
                if err is None:
                    hashes.setdefault(name, []).append(oracle.output_hash(cols, rows))
                    first_rows.setdefault(name, (cols, rows))
        passes.append(time.perf_counter() - t)

    for p in range(warmup + 1):
        one_pass(p)
    w0 = time.perf_counter()
    for p in range(warmup + 1, warmup + 1 + measured_count(args.seconds, NOMINAL_PASS_S)):
        one_pass(p)
    warm_wall = time.perf_counter() - w0

    # Correctness, outside the timed region.
    con = oracle.connect(
        {t: p for t in catalog.TABLES if os.path.exists(p := catalog.table_path(data, t))}
    )
    verdicts = {}
    for name in queries:
        hs = hashes.get(name, [])
        if name not in first_rows:
            verdicts[name] = "every call failed"
        elif len(set(hs)) > 1:
            verdicts[name] = "output differs between passes"
        else:
            verdicts[name] = oracle.compare(*first_rows[name], con, oracles[name])
    con.close()
    for c in calls:
        c["error"] = c["error"] or verdicts[c["q"]]
        c["ok"] = c["error"] is None
    warm = [c["s"] for c in calls if phase(c["pass"], warmup) == "measured"]
    return {
        "ops": calls,
        "verdicts": verdicts,
        "passes_s": passes,
        "cold_s": passes[0],
        "warm_op_s": warm,
        "warm_ops_per_s": len(warm) / warm_wall,
    }


# -- ingest_tick ------------------------------------------------------------


def _http(url, body=None):
    req = urllib.request.Request(
        url,
        data=None if body is None else json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="GET" if body is None else "POST",
    )
    with urllib.request.urlopen(req, timeout=30) as r:
        return json.loads(r.read())


def _json_row(row) -> dict:
    d = json.loads(json.dumps(row.asDict(recursive=True), default=str))
    out = {"begin_date": d.pop("begin_date"), "end_date": d.pop("end_date")}
    fi = d.pop("fi_summary", None)
    out["details"] = d
    if fi is not None:
        out["fi_summary"] = fi
    return out


REPORT_COLS = ["begin_date", "end_date", "total_spent", "total_transactions", "fi_summary"]
WINDOW_COLS = ["window_start", "event_type", "n_events", "total_value"]
MISS = {"msg": "No financial details found with these date range..."}


def ingest_tick(spark, args, tracer) -> dict:
    root = os.path.join(args.data, "landing")
    report_sink = os.path.join(args.data, "sinks", "file_details")
    window_sink = os.path.join(args.data, "sinks", "event_windows")
    ckpt = os.path.join(args.data, "checkpoints", "event_windows")
    arrivals = datagen.Arrivals(root, args.seed)
    warmup = WARMUP["ingest_tick"]
    rng = random.Random(args.seed)
    events_dir = os.path.join(root, "events.parquet")
    part = catalog.load_table(spark, root, "part")
    supplier = catalog.load_table(spark, root, "supplier")

    ticks, requests, manifests = [], [], []
    report_snaps, window_snaps = [], []
    landed_bytes = 0
    srv = serving.serve_reports(spark, report_sink)
    try:

        def tick(n):
            nonlocal landed_bytes
            kind, files = arrivals.next_batch()
            t0 = time.perf_counter()
            err = None
            with tracer.span("tick", n=n, kind=kind, phase=phase(n, warmup)):
                try:
                    landed_bytes += datagen.land(files)
                    with tracer.span("report.build"):
                        sales = report.base_sales(
                            spark.read.parquet(os.path.join(root, "lineitem.parquet")),
                            spark.read.parquet(os.path.join(root, "orders.parquet")),
                            part,
                            supplier,
                        )
                        batch = summarizer.get_summarizer().summarize(report.assemble_report(sales))
                    upsert.merge_reports(spark, report_sink, batch)
                    windows = jobs.tumbling_agg_stream(
                        jobs.read_event_stream(spark, events_dir)
                    ).select(
                        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                        "event_type",
                        "n_events",
                        "total_value",
                    )
                    jobs.run_foreach_batch_upsert(
                        windows,
                        window_sink,
                        compare_col="n_events",
                        key=("window_start", "event_type"),
                        checkpoint=ckpt,
                    )
                except Exception as e:
                    err = f"{type(e).__name__}: {str(e)[:300]}"
            ticks.append({"n": n, "kind": kind, "s": time.perf_counter() - t0, "error": err})
            manifests.append(list(arrivals.fact_files))
            # The committed state this tick left, read outside its timing.
            try:
                with tracer.span("check.snapshot"):
                    report_snaps.append(upsert.read_reports(spark, report_sink).collect())
                    window_snaps.append(
                        upsert.read_reports(spark, window_sink).select(*WINDOW_COLS).collect()
                    )
            except Exception as e:
                report_snaps.append(None)
                window_snaps.append(None)
                ticks[-1]["error"] = ticks[-1]["error"] or f"sink unreadable: {e}"[:300]

        def serve(n):
            rows = report_snaps[-1] or []
            committed = {(r["begin_date"], r["end_date"]): r for r in rows}
            for kind in rng.sample(GAP_REQUESTS, len(GAP_REQUESTS)):
                if kind == "hit" and committed:
                    key = rng.choice(sorted(committed))
                else:
                    key = (f"2099-01-{rng.randint(10, 28)}", "2099-12-31")
                    kind = "miss" if kind != "dates" else kind
                t0 = time.perf_counter()
                err = None
                with tracer.span("request", kind=kind):
                    try:
                        if kind == "dates":
                            got = _http(srv.base_url + "/dates")
                        else:
                            got = _http(
                                srv.base_url + "/dates/summary",
                                {"begin_date": key[0], "end_date": key[1]},
                            )
                    except Exception as e:
                        got, err = None, f"{type(e).__name__}: {e}"[:300]
                s = time.perf_counter() - t0
                if err is None:
                    if kind == "dates":
                        want = sorted(committed)
                        have = sorted((d["begin_date"], d["end_date"]) for d in got.get("dates", []))
                    else:
                        want = _json_row(committed[key]) if kind == "hit" else MISS
                        have = got
                    if have != want:
                        err = "response differs from the committed sink row"
                requests.append({"after_tick": n, "kind": kind, "s": s, "error": err})

        for n in range(warmup + 1 + measured_count(args.seconds, NOMINAL_TICK_S)):
            tick(n)
            serve(n)
    finally:
        srv.stop()
    plan_count = srv.plan_cache.plan_count

    # Correctness, outside the timed region: replay every tick's landed
    # input through DuckDB and the reference's upsert rule.
    dims = {t: os.path.join(root, f"{t}.parquet") for t in ("part", "supplier")}
    gs_sql = registry.ORACLE["report_global_summary"]
    fi_sql = registry.ORACLE["report_fi_summary"]
    win_sql = registry.ORACLE["events_tumbling_5min"]
    expected: dict[tuple, dict] = {}
    for i, t in enumerate(ticks):
        files = manifests[i]
        con = oracle.connect(
            {
                **dims,
                "orders": [f for f in files if "/orders.parquet/" in f],
                "lineitem": [f for f in files if "/lineitem.parquet/" in f],
                "events": [os.path.join(events_dir, f"e{k:04d}.parquet") for k in range(i + 1)],
            }
        )
        row = {}
        for sql in (gs_sql, fi_sql):
            cols, (vals,) = oracle.run(con, sql)
            row.update(zip(cols, vals))
        old = expected.get((row["begin_date"], row["end_date"]))
        if old is None or row["total_transactions"] > old["total_transactions"]:
            expected[(row["begin_date"], row["end_date"])] = row
        problems = []
        if report_snaps[i] is None or window_snaps[i] is None:
            problems.append("sink unreadable")
        else:
            have = [tuple(r[c] for c in REPORT_COLS) for r in report_snaps[i]]
            want = [tuple(r[c] for c in REPORT_COLS) for r in expected.values()]
            if oracle.canon(REPORT_COLS, have) != oracle.canon(REPORT_COLS, want):
                problems.append("report sink differs from the replayed upserts")
            why = oracle.compare(WINDOW_COLS, window_snaps[i], con, win_sql)
            if why:
                problems.append(f"window sink: {why}")
        con.close()
        t["error"] = t["error"] or "; ".join(problems) or None
        t["ok"] = t["error"] is None
    for r in requests:
        r["ok"] = r["error"] is None
    warm = [t["s"] for t in ticks if phase(t["n"], warmup) == "measured"]
    warm_serve = [r["s"] for r in requests if phase(r["after_tick"], warmup) == "measured"]
    return {
        "ops": ticks + requests,
        "ticks": ticks,
        "requests": requests,
        "cold_s": ticks[0]["s"],
        # Every operation of the one client: its ticks and its requests.
        "warm_op_s": warm + warm_serve,
        "tick_s": warm,
        "warm_ops_per_s": len(warm) / sum(warm),
        "serve_s": warm_serve,
        "serve_plan_count": plan_count,
        "commits": len(ticks),
        "landed_bytes": landed_bytes,
    }


WORKLOADS = {"report_session": report_session, "ingest_tick": ingest_tick}
TOUCH = {"report_session": ("", "lineitem"), "ingest_tick": ("landing", "part")}


def provenance(spark) -> dict:
    import duckdb
    import pyspark

    conf = spark.sparkContext.getConf()
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": nproc(),
        "ram_gib": round(mem_kb / 2**20, 2),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "spark_conf": {
            "spark.master": conf.get("spark.master"),
            "spark.driver.memory": conf.get("spark.driver.memory"),
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
            "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
                "spark.sql.autoBroadcastJoinThreshold"
            ),
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--inject-failure", action="store_true")
    args = ap.parse_args()

    tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
    if args.trace:
        import layers

        layers.install(tracer)
    with tracer.span("session.get_spark"):
        spark = session.get_spark(cpus=nproc())
    if args.trace:
        tracer.attach(spark)
    sub, table = TOUCH[args.workload]
    touch_dir = os.path.join(args.data, sub)
    with tracer.span("catalog.first_touch"):
        catalog.load_table(spark, touch_dir, table)
    out = {"setup_s": time.perf_counter() - T0}
    try:
        layer_state = layers.start(spark, tracer) if args.trace else None
        out.update(WORKLOADS[args.workload](spark, args, tracer))
        out["provenance"] = provenance(spark)
        if args.trace:
            out["layers"] = layers.finish(spark, tracer, layer_state, out)
            out["spans"] = [s.as_dict() for s in tracer.spans]
    finally:
        with open(args.out + ".tmp", "w") as fh:
            json.dump(out, fh, default=str)
        os.replace(args.out + ".tmp", args.out)
        for q in spark.streams.active:
            q.stop()
        spark.stop()


if __name__ == "__main__":
    main()
