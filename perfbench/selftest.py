"""Self-test of the benchmark at tiny scale (a few thousand rows).

    python3 perfbench/selftest.py

Runs every workload untraced and traced in one Spark session and checks
that each metric named in BENCHMARK.json is reported with its unit and that
every gate passes; then plants a wrong truth in each workload and checks
that a gate fails. It first checks that the benchmark refuses to run from a
directory holding only BENCHMARK.json and perfbench/. Exits 0 when all hold.
"""

from __future__ import annotations

import math
import os
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ROWS = 4000


def check_metrics(label, metrics: dict, want: dict[str, str], problems: list) -> None:
    for name, unit in want.items():
        got = metrics.get(name)
        if got is None:
            problems.append(f"{label}: metric {name} missing")
        elif got[1] != unit:
            problems.append(f"{label}: metric {name} has unit {got[1]}, want {unit}")
        elif not isinstance(got[0], (int, float)) or not math.isfinite(got[0]):
            problems.append(f"{label}: metric {name} = {got[0]!r} is not a finite number")


def bare_checkout_refuses(problems: list) -> None:
    """The benchmark must fail, printing no result, without the package."""
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "scan_build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0:
        problems.append("bare checkout: exit code 0, want non-zero")
    if proc.stdout.strip():
        problems.append(f"bare checkout printed a result: {proc.stdout.strip()[:200]}")


def main() -> int:
    sys.path.insert(0, ROOT)
    from host import WorkArea, make_session
    from run import _stop, run_workload, spec_units
    from workloads import DEFAULT_ROWS

    problems: list[str] = []
    bare_checkout_refuses(problems)
    units = {0: spec_units("end_to_end"), 1: spec_units("per_layer")}
    with WorkArea(ROOT) as work:
        spark = make_session(ROOT, work)
        try:
            for workload in sorted(DEFAULT_ROWS):
                for trace, plant in ((0, False), (1, False), (0, True)):
                    label = f"{workload} trace={trace} planted={plant}"
                    args = SimpleNamespace(
                        workload=workload, seed=7, seconds=0.0, trace=trace,
                        rows=ROWS, plant_wrong_truth=plant,
                    )
                    shutil.rmtree(work.data, ignore_errors=True)
                    os.makedirs(work.data)
                    metrics, record = run_workload(spark, args, work, time.time())
                    if plant:
                        if record["failed"] == 0:
                            problems.append(f"{label}: planted wrong truth passed every gate")
                    else:
                        check_metrics(label, metrics, units[trace], problems)
                        for failure in record["failures"]:
                            problems.append(f"{label}: gate failed: {failure}")
                    print(f"# {label}: {record['attempted']} ops, {record['failed']} failed",
                          flush=True)
        finally:
            _stop(spark)
    for p in problems:
        print(f"PROBLEM {p}")
    print("selftest " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
