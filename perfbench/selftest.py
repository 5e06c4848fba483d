"""Smoke test of the benchmark itself (about seven minutes on 4 cores).

    python3 perfbench/selftest.py

Runs each workload briefly, untraced and traced, and
checks the benchmark's own contract: the summary parses from the last
2000 characters of the combined output, every named metric is present,
spans nest, every Spark job is attributed, and a query that disagrees
with its oracle is counted as failed rather than dropped. Finally it
checks that the benchmark refuses to run without the program.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def bench(*argv: str, cwd: str = ROOT) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *argv],
        cwd=cwd,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
        timeout=180,
    )
    return p.returncode, p.stdout


def summary(out: str) -> dict:
    line = out[-2000:].rstrip("\n").rsplit("\n", 1)[-1]
    res = json.loads(line)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    return res


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> None:
    fast = ["--seconds", "1"]
    for workload in run.WORKLOADS:
        for trace, units in ((0, run.E2E_UNITS), (1, run.LAYER_UNITS)):
            rc, out = bench("--workload", workload, "--seed", "7", "--trace", str(trace), *fast)
            res = summary(out)
            tag = f"{workload} trace={trace}"
            check(rc == 0 and res["correct"], f"{tag}: exit 0 and correct")
            check(set(res["metrics"]) == set(units), f"{tag}: every metric named")
            check(
                all(res["metrics"][k]["unit"] == u for k, u in units.items()),
                f"{tag}: units",
            )
            if trace:
                with open(os.path.join(ROOT, ".perfbench", f"{workload}-s7-t1", "sidecar.json")) as fh:
                    side = json.load(fh)
                m = {k: v["value"] for k, v in res["metrics"].items()}
                checks = side["layers"]["metrics"]
                check(checks["trace.nesting_ok"] == 1, f"{tag}: spans nest")
                check(checks["trace.job_coverage"] == 1.0, f"{tag}: every job attributed")
                check(m["trace.overhead_ms_per_op"] > 0, f"{tag}: overhead measured")

    rc, out = bench("--workload", "report_session", "--seed", "7", "--inject-failure", *fast)
    res = summary(out)
    check(
        rc == 0 and not res["correct"] and res["failed"] >= 2,
        f"injected mismatch counted (failed={res['failed']} of {res['attempted']})",
    )

    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        rc, out = bench("--workload", "report_session", "--seed", "7", cwd=bare)
        check(rc != 0 and '"correct"' not in out, "refuses to run without the program")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
