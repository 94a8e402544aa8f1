"""perfbench: time the library the way a user's Spark job calls it.

    python3 perfbench/run.py --workload scan_build --seed 1 --seconds 20 --trace 0

Run from the repository root. One workload per run, on ``local[cores]``
(half the CPUs, see host.cores): set up (session, generated inputs, truths,
three warm-up jobs), then one job at a time for ``--seconds`` (and at least
three jobs), checking every job's outputs. The last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The full record of the run (host facts, gates, job times,
spans, plan metrics) is written to ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The first job after a cold start runs 1.5-3x slower than the jobs after
# it, and the second still 10-30% slower (JIT and Python worker warm-up);
# the third runs at the timed jobs' pace.
WARMUP_JOBS = 3
MIN_JOBS = 3

def parse_args(argv):
    from workloads import DEFAULT_ROWS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(DEFAULT_ROWS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def check(wl, out, gates):
    """Run the workload's gates; a gate that raises counts as failed."""
    try:
        return wl.check(out, gates)
    except Exception as e:
        traceback.print_exc()
        gates.op("check", False, repr(e))
        return None


def run_jobs(wl, ctx_plain, ctx_traced, seconds: float, traced: bool):
    """The closed loop. Traced runs interleave untraced and traced jobs in
    ABBA order (U T T U ...), so the two rates come from the same minutes
    and neither side gets all the early, still-warming jobs. Returns
    per-mode rates, the result bytes of each checked job, and per traced
    job its plan nodes."""
    from spans import plan_nodes

    rates = {"untraced": [], "traced": []}
    result_bytes, job_plans = [], []
    min_jobs = 4 if traced else MIN_JOBS
    deadline = time.perf_counter() + seconds
    i = 0
    while i < min_jobs or time.perf_counter() < deadline:
        use_trace = traced and i % 4 in (1, 2)
        ctx = ctx_traced if use_trace else ctx_plain
        ctx.tracer.job = i
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("job"):
                out = wl.job(ctx)
        except Exception:  # counted by Ctx.call; keep the loop running
            traceback.print_exc()
            i += 1
            continue
        dt = time.perf_counter() - t0
        rates["traced" if use_trace else "untraced"].append(wl.rows_per_job / dt)
        checked = check(wl, out, ctx.gates)
        if checked is not None:
            result_bytes.append(checked)
        if use_trace:
            job_plans.append([(name, plan_nodes(df)) for name, df in ctx.executed])
            ctx.executed.clear()
        i += 1
    return rates, result_bytes, job_plans


def layer_metrics(spark, wl, tracer, gates, work, job_plans) -> tuple[dict, dict]:
    """Every per-layer metric for a traced run, plus details for the record."""
    from host import cores
    from layers import build_decomposition, freeze_and_probe, grouped_calls, kernel_suite
    from spans import layer_totals, plan_nodes, python_node_rows, zero_nodes
    from workloads import Ctx

    ctx = Ctx(spark, tracer, gates)
    tracer.job = "suite"
    m = kernel_suite(wl.files)
    build, partial_dfs = build_decomposition(
        ctx, wl.path, cores(), m["build.kernel_rows_per_s"]
    )
    m.update(build)
    m.update(grouped_calls(ctx, wl.path))
    m.update(freeze_and_probe(ctx, wl.path, work.data))

    # the scan_build job's DataFrames are built inside the library; its
    # partial stages, executed above by the benchmark, stand in for them
    if not any(job_plans):
        job_plans = [[(name, plan_nodes(df)) for name, df in partial_dfs]]
    per_job = []
    for plans in job_plans:
        totals: dict[str, float] = {}
        for _, nodes in plans:
            for k, v in layer_totals(nodes).items():
                totals[k] = totals.get(k, 0.0) + v
        per_job.append(totals)
    for k in per_job[0]:
        m[k] = _median([t[k] for t in per_job])
    m["arrow.bytes_sent_per_row"] = m["arrow.bytes_sent"] / wl.rows_per_job
    flagged = sorted(
        {f"{name}:{node}" for name, nodes in job_plans[-1] for node in zero_nodes(nodes)}
    )
    m["plan.zero_metric_nodes"] = len(flagged)
    details = {
        "zero_metric_nodes": flagged,
        "python_nodes": {name: python_node_rows(nodes) for name, nodes in job_plans[-1]},
    }
    return m, details


def run_workload(spark, args, work, t_start: float) -> tuple[dict, dict]:
    from gates import Gates
    from host import DirPeakSampler, cpu_jiffies, dir_bytes, host_facts
    from spans import Tracer
    from workloads import DEFAULT_ROWS, WORKLOADS, Ctx

    traced = args.trace == 1
    # the self-test sets ``rows`` and ``plant_wrong_truth`` on ``args``
    rows = getattr(args, "rows", None) or DEFAULT_ROWS[args.workload]
    gates = Gates()
    tracer = Tracer(traced)
    ctx_plain = Ctx(spark, Tracer(False), gates)
    ctx_traced = Ctx(spark, tracer, gates)
    sampler = DirPeakSampler(work.local).start() if traced else None
    session_s = time.time() - t_start

    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload]()
    wl.prepare(spark, work.data, rows, args.seed)
    prepare_s = time.perf_counter() - t0
    if getattr(args, "plant_wrong_truth", False):
        wl.plant_wrong_truth()
    warm_s = []
    for _ in range(WARMUP_JOBS):  # untimed, but checked
        t0 = time.perf_counter()
        try:
            out = wl.job(ctx_plain)
        except Exception:  # counted by Ctx.call
            traceback.print_exc()
        else:
            check(wl, out, gates)
        warm_s.append(time.perf_counter() - t0)
    setup_s = time.time() - t_start

    total0, steal0 = cpu_jiffies()
    rates, result_bytes, job_plans = run_jobs(wl, ctx_plain, ctx_traced, args.seconds, traced)
    total1, steal1 = cpu_jiffies()
    untraced_rps = _median(rates["untraced"])
    e2e = {
        "rows_per_s": untraced_rps,
        "setup_s": setup_s,
        "result_bytes": _median(result_bytes),
        "err_to_bound": gates.err_to_bound,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "rows": rows,
        "rows_per_job": wl.rows_per_job,
        "host": host_facts(ROOT),
        "setup": {"session_s": session_s, "prepare_s": prepare_s, "warmup_s": warm_s},
        "job_rows_per_s": rates,
        # CPU time the hypervisor gave to other guests while the jobs ran
        "steal_frac_during_jobs": (steal1 - steal0) / max(total1 - total0, 1),
        "end_to_end": e2e,
    }
    metrics = e2e
    if traced:
        metrics, details = layer_metrics(spark, wl, tracer, gates, work, job_plans)
        traced_rps = _median(rates["traced"])
        metrics["trace.untraced_rows_per_s"] = untraced_rps
        metrics["trace.traced_rows_per_s"] = traced_rps
        metrics["trace.overhead_frac"] = 1.0 - traced_rps / untraced_rps if untraced_rps else 0.0
        metrics["spill.local_dir_peak_mb"] = max(sampler.stop(), dir_bytes(work.local)) / 2**20
        metrics["driver.py_maxrss_mb"] = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        )
        record.update(details, spans=tracer.spans, per_layer=metrics)
    record.update(
        fail_frac=gates.failed / max(gates.attempted, 1),
        attempted=gates.attempted,
        failed=gates.failed,
        failures=gates.failures,
        err_to_bound_by_gate=dict(sorted(gates.ratios.items(), key=lambda kv: -kv[1])),
    )
    units = spec_units("per_layer" if traced else "end_to_end")
    return {k: (metrics[k], u) for k, u in units.items()}, record


def spec_units(kind: str) -> dict[str, str]:
    """{metric name: unit} of one metric list in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM and
    the Python workers it forked have all ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # the workers are the JVM's, not ours, so poll instead of wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in workers:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "guava_probably_spark", "__init__.py")):
        print(
            "perfbench: no guava_probably_spark/ package beside perfbench/; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    from host import WorkArea, make_session, process_start_time

    t_start = process_start_time()
    sys.path.insert(0, ROOT)
    with WorkArea(ROOT) as work:
        spark = make_session(ROOT, work)
        try:
            metrics, record = run_workload(spark, args, work, t_start)
        finally:
            _stop(spark)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    e2e = record["end_to_end"]
    print("# host " + " ".join(f"{k}={v}" for k, v in record["host"].items()))
    print(
        f"# {args.workload} seed={args.seed} trace={args.trace} rows={record['rows']} "
        f"jobs={sum(len(v) for v in record['job_rows_per_s'].values())} "
        + " ".join(f"{k}={v:.6g}" for k, v in e2e.items())
        + f" fail_frac={record['fail_frac']:.6g}"
        f" ({record['failed']} of {record['attempted']} ops failed)"
        f" steal={record['steal_frac_during_jobs']:.3f}"
    )
    for line in record["failures"]:
        print(f"# FAILED {line}")
    result = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
