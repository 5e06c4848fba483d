"""Benchmark entry point: one workload, one seed, one fresh Spark process.

    python3 perfbench/run.py --workload report_session --seed 1 --seconds 10 --trace 0

Run from the repository root. The parent process generates the seeded
inputs, starts the Spark child (``child.py``), samples the child's
process tree for peak RSS, and prints the summary as the last line of stdout
only after every child has exited — so nothing a stopping JVM prints can
displace it. The full record (raw samples, provenance, spans) goes to
``.perfbench/<workload>-s<seed>-t<trace>/sidecar.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("report_session", "ingest_tick")
REPORT_SCALE = 0.01
CHILD_TIMEOUT_S = 160
TAIL_PCT = 90

E2E_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "catalog.load_table_s": "s",
    "registry.build_s.first": "s",
    "registry.build_s.warm": "s",
    "registry.build_jobs": "count",
    "registry.shared.build_s": "s",
    "plan.s": "s",
    "plan.optimization_ms": "ms",
    "exec.s": "s",
    "exec.tasks": "count",
    "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.cached_bytes": "bytes",
    "exec.slot_busy_frac": "fraction",
    "upsert.merge_s": "s",
    "upsert.bytes_written_per_input_byte": "ratio",
    "streaming.drain_s": "s",
    "streaming.trigger_ms": "ms",
    "streaming.state_rows": "count",
    "serving.summary_ms": "ms",
    "serving.plan_count_per_version": "ratio",
    "serving.request_p50_ms": "ms",
    "peak_rss_mb": "MB",
    "trace.overhead_ms_per_op": "ms",
}


def tail(samples: list[float]) -> tuple[float, int, int]:
    """Nearest-rank p90: ``(value, percentile, n)``. A run measures 23
    query calls, or 2 ticks and 16 requests, too few to keep 10 samples
    beyond any percentile above the median, so the sidecar records the
    sample count next to the value."""
    xs = sorted(samples)
    if not xs:
        return 0.0, TAIL_PCT, 0
    return xs[max(0, math.ceil(TAIL_PCT / 100 * len(xs)) - 1)], TAIL_PCT, len(xs)


# -- process-tree accounting -------------------------------------------------


def _parents() -> dict[int, int]:
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    out[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssMonitor(threading.Thread):
    """Peak RSS of a process tree: the sum over its processes of each
    one's own high-water mark (VmHWM), sampled until the root exits.
    A process still running its parent's executable is a fork that
    shares the parent's pages (a JVM mid-spawn, a Python worker forked
    from its daemon) and is skipped, so shared memory counts once."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.hwm: dict[int, int] = {}
        self.exe: dict[int, str] = {}
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.is_set():
            parents = _parents()
            kids: dict[int, list[int]] = {}
            for pid, ppid in parents.items():
                kids.setdefault(ppid, []).append(pid)
            todo = [self.pid]
            while todo:
                p = todo.pop()
                todo.extend(kids.get(p, ()))
                exe = _exe(p)
                if p != self.pid and exe == _exe(parents.get(p, 0)):
                    continue
                self.hwm[p] = max(self.hwm.get(p, 0), _hwm_kb(p))
                self.exe[p] = os.path.basename(exe or "?")
            self.done.wait(0.25)

    def peak_mb(self) -> float:
        return sum(self.hwm.values()) / 1024

    def by_process_mb(self) -> dict[str, float]:
        return {f"{self.exe[p]}[{p}]": kb / 1024 for p, kb in self.hwm.items() if kb}


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getpgid(int(name)) == pgid:
                    return True
            except OSError:
                pass
    return False


def run_child(argv: list[str], env: dict, log_path: str, timeout: float, monitor=False):
    """Run one child in its own process group; afterwards make sure the
    whole group (JVM, Python workers) is gone. Returns
    ``(returncode, RssMonitor or None)``."""
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), *argv],
            stdout=log,
            stderr=subprocess.STDOUT,
            env=env,
            start_new_session=True,
        )
        mon = RssMonitor(proc.pid) if monitor else None
        if mon:
            mon.start()
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        if mon:
            mon.done.set()
            mon.join()

        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                break
            deadline = time.time() + 5
            while time.time() < deadline:
                proc.poll()  # reap the leader so it does not linger as a zombie
                if not _group_alive(proc.pid):
                    break
                time.sleep(0.1)
        proc.wait()
    return rc, mon


# -- main ---------------------------------------------------------------------


def preflight(root: str) -> str | None:
    if not os.path.isfile(os.path.join(root, "spendinganalysisetl_spark", "session.py")):
        return "spendinganalysisetl_spark/ not found: run from the repository root"
    for mod in ("pyspark", "duckdb", "pyarrow", "numpy"):
        try:
            __import__(mod)
        except ImportError:
            return f"required module {mod} is not installed"
    return None


def git_commit(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


def e2e_metrics(res: dict, peak_mb: float, failed: int) -> tuple[dict, dict]:
    """The contract metrics plus the workload-named view printed for
    people (and kept in the sidecar)."""
    warm = res["warm_op_s"]
    t_val, t_pct, t_n = tail(warm)
    metrics = {
        "setup_s": res["setup_s"],
        "cold_s": res["cold_s"],
        "op_p50_ms": statistics.median(warm) * 1000,
        "op_tail_ms": t_val * 1000,
    }
    named = {
        "setup_s": metrics["setup_s"],
        "peak_rss_mb": peak_mb,
        "failed_frac": failed / len(res["ops"]),
    }
    if "ticks" in res:
        k_val, k_pct, k_n = tail(res["tick_s"])
        s_val, s_pct, s_n = tail(res["serve_s"])
        named.update(
            {
                "first_tick_s": res["cold_s"],
                "tick_p50_s": statistics.median(res["tick_s"]),
                f"tick_tail_s (p{k_pct} of {k_n})": k_val,
                "ticks_per_s": res["warm_ops_per_s"],
                "serve_p50_ms": statistics.median(res["serve_s"]) * 1000,
                f"serve_tail_ms (p{s_pct} of {s_n})": s_val * 1000,
            }
        )
    else:
        named.update(
            {
                "first_pass_s": res["cold_s"],
                "query_p50_s": statistics.median(warm),
                f"query_tail_s (p{t_pct} of {t_n})": t_val,
                "warm_qps": res["warm_ops_per_s"],
            }
        )
    return metrics, named


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    root = os.getcwd()
    problem = preflight(root)
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2

    started = time.time()
    run_dir = os.path.join(root, ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    os.makedirs(os.path.join(run_dir, "tmp"))

    import datagen

    t = time.perf_counter()
    if args.workload == "report_session":
        rows = datagen.star_schema(data, args.seed, REPORT_SCALE)
    else:
        datagen.ingest_dimensions(os.path.join(data, "landing"), args.seed)
        rows = {}
    datagen_s = time.perf_counter() - t

    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([root, HERE, os.environ.get("PYTHONPATH", "")]),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        PYTHONUNBUFFERED="1",
    )
    common = ["--workload", args.workload, "--seed", str(args.seed), "--data", data]
    out_path = os.path.join(run_dir, "child.json")
    log_path = os.path.join(run_dir, "child.log")
    child_argv = [*common, "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out_path]
    if args.inject_failure:
        child_argv.append("--inject-failure")
    rc, mon = run_child(child_argv, env, log_path, CHILD_TIMEOUT_S, monitor=True)
    res = None
    if rc == 0 and os.path.isfile(out_path):
        with open(out_path) as fh:
            res = json.load(fh)
        if "ops" not in res:
            res = None


    sidecar = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": git_commit(root),
        "scale": REPORT_SCALE,
        "rows": rows,
        "datagen_s": datagen_s,
        "child_returncode": rc,
        "peak_rss_by_process_mb": mon.by_process_mb(),
        "wall_s": None,
    }
    if res is None:
        # A crashed or hung child still yields a summary line.
        sidecar["wall_s"] = time.time() - started
        _write(run_dir, sidecar)
        print(f"perfbench: {args.workload} child failed (rc={rc}); log: {log_path}")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1

    ops = res["ops"]
    failed = sum(not o["ok"] for o in ops)
    correct = failed == 0
    metrics, named = e2e_metrics(res, mon.peak_mb(), failed)
    sidecar.update(
        {
            "provenance": res["provenance"],
            "metrics": metrics,
            "named": named,
            "failed_ops": [o for o in ops if not o["ok"]],
            "raw": {k: v for k, v in res.items() if k not in ("layers", "spans", "provenance")},
        }
    )
    if args.trace:
        layer = res["layers"]["metrics"]
        layer["peak_rss_mb"] = mon.peak_mb()
        if "serve_s" in res:
            layer["serving.request_p50_ms"] = statistics.median(res["serve_s"]) * 1000
            layer["serving.request_tail_ms"] = tail(res["serve_s"])[0] * 1000
        else:
            layer["serving.request_p50_ms"] = layer["serving.request_tail_ms"] = 0.0
        checks_ok = (
            layer["trace.nesting_ok"] == 1
            and layer["trace.job_coverage"] == 1.0
            and layer["trace.unattributed_frac"] < 0.05
        )
        correct = correct and checks_ok
        sidecar["layers"] = res["layers"]
        sidecar["spans"] = res["spans"]
        sidecar["trace_overhead"] = _overhead(root, args, metrics)
        report = {k: layer[k] for k in LAYER_UNITS}
        units = LAYER_UNITS
    else:
        report, units = metrics, E2E_UNITS
    sidecar["wall_s"] = time.time() - started
    _write(run_dir, sidecar)
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={res['provenance']['nproc']} ops={len(ops)} failed={failed}")
    for k, v in {**named, **(res["layers"]["metrics"] if args.trace else {})}.items():
        print(f"  {k:<36} {v:.6g}")
    for o in sidecar["failed_ops"][:10]:
        print(f"  FAILED {json.dumps(o, default=str)[:300]}")
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": report[k], "unit": units[k]} for k in units},
    }, separators=(",", ":")))
    return 0


def _overhead(root: str, args, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end metrics, when an untraced run of
    the same workload and seed has left its sidecar."""
    p = os.path.join(root, ".perfbench", f"{args.workload}-s{args.seed}-t0", "sidecar.json")
    try:
        with open(p) as fh:
            base = json.load(fh)["metrics"]
    except (OSError, KeyError, ValueError):
        return None
    return {k: traced[k] - base[k] for k in traced if k in base}


def _write(run_dir: str, sidecar: dict) -> None:
    with open(os.path.join(run_dir, "sidecar.json"), "w") as fh:
        json.dump(sidecar, fh, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
