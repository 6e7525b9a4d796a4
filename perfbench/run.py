"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload crawl_linked --seed 1 --seconds 10 --trace 0

Workloads: crawl_linked, poll_reference, query_mix (see perfbench/README.md).
Each run starts one Spark session on local[nproc], generates its inputs
from --seed, warms up, measures, checks every output against an
independent twin outside the timed region, and prints human-readable
lines followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
alternates untraced and traced cycles and reports per-layer metrics, the
tracing overhead included, and writes its spans under .perfbench_work/traces.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1
# BENCHMARK.json lists crawl_linked and query_mix; poll_reference runs the
# same way but is left out of the recorded runs to fit their time budget
WORKLOADS = ("crawl_linked", "poll_reference", "query_mix")
GEN_REPS = 3  # input generation repeats; setup_s takes their median
TRACE_PAIRS = {"crawl_linked": 1, "poll_reference": 2, "query_mix": 2}

E2E_UNITS = {
    "setup_s": "s", "cycle_s": "s", "throughput": "1/s", "peak_mem_mb": "MB",
}
LAYER_UNITS = {
    "session.get_spark_s": "s", "sources.input_gen_s": "s", "setup.warm_s": "s",
    "spark.jobs_per_step": "count", "spark.stages_per_step": "count",
    "spark.tasks_per_step": "count", "spark.task_run_s_per_step": "s",
    "spark.task_jvm_cpu_s_per_step": "s", "driver.self_s_per_step": "s",
    "trace.overhead_s": "s",
}


def _workloads():
    from perfbench.crawls import CrawlLinked, PollReference
    from perfbench.queries import QueryMix

    return {w.name: w for w in (CrawlLinked, PollReference, QueryMix)}


def _say(line: str) -> None:
    print("# " + line, flush=True)


def _timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def measure(wl, seconds: float) -> list[dict]:
    """Untraced cycles: a fixed count where the workload sets one (its
    history depth must not depend on speed), else until ``seconds`` pass."""
    from perfbench.harness import tree_cpu_s

    fixed = wl.fixed_cycles(seconds)
    cycles, t0 = [], time.monotonic()
    while True:
        cpu0 = tree_cpu_s()
        cycles.append(wl.cycle())
        cycles[-1]["cpu"] = tree_cpu_s() - cpu0
        n = len(cycles)
        if (fixed and n >= fixed) or (
            not fixed and n >= wl.min_cycles and time.monotonic() - t0 >= seconds
        ):
            return cycles


def measure_traced(r, wl, tracer) -> tuple[list[dict], list[dict], list[dict]]:
    """Alternating untraced (scheduler-counted) and traced cycles."""
    untraced, traced = [], []
    wl.trace_warm()
    for _ in range(TRACE_PAIRS[wl.name]):
        tracer.step_hooks = (r.counter.begin, r.counter.end)
        untraced.append(wl.cycle_counted(tracer))
        tracer.step_hooks = None
        tracer.enabled = True
        traced.append(wl.cycle_traced(tracer))
        tracer.enabled = False
    return untraced, traced, tracer.step_stats


def layer_metrics(wl, tracer, untraced, traced, steps_stats, setup) -> tuple[dict, dict]:
    """Generic per-layer metrics (every workload emits them) and the
    workload's module-level detail."""
    n = max(len(steps_stats), 1)
    per = {
        k: sum(s[k] for s in steps_stats) / n
        for k in ("jobs", "stages", "tasks", "task_run_s", "task_jvm_cpu_s")
    }
    overhead = (sum(c["wall"] for c in traced) - sum(c["wall"] for c in untraced)) / len(traced)
    layers = {
        "session.get_spark_s": setup["session_s"],
        "sources.input_gen_s": setup["input_gen_s"],
        "setup.warm_s": setup["warm_s"],
        "spark.jobs_per_step": per["jobs"],
        "spark.stages_per_step": per["stages"],
        "spark.tasks_per_step": per["tasks"],
        "spark.task_run_s_per_step": per["task_run_s"],
        "spark.task_jvm_cpu_s_per_step": per["task_jvm_cpu_s"],
        "driver.self_s_per_step": wl.driver_self_s(tracer, steps_stats),
        "trace.overhead_s": overhead,
    }
    return layers, wl.layer_detail(tracer, untraced, traced, steps_stats)


def execute(workload: str, seed: int, seconds: float, trace: bool, toy: bool = False) -> dict:
    from perfbench.harness import Run, median
    from perfbench.trace import Tracer

    r = Run(workload, seed)
    r.mem.start()
    try:
        session_s = r.start_session()
        wl = _workloads()[workload](r, toy)
        gen = [_timed(lambda i=i: wl.generate(i)) for i in range(GEN_REPS)]
        tracer = Tracer()
        if trace:
            tracer.install()
        warm_s = _timed(wl.warm)
        setup = {"session_s": session_s, "input_gen_s": median(gen), "warm_s": warm_s}
        setup_s = session_s + setup["input_gen_s"] + warm_s
        _say(f"setup_s {setup_s:.4f} s = session {session_s:.3f} + input generation "
             f"{setup['input_gen_s']:.3f} (median of {GEN_REPS}) + warm-up {warm_s:.3f}")
        if trace:
            untraced, traced, steps_stats = measure_traced(r, wl, tracer)
            cycles = untraced + traced
        else:
            cycles = measure(wl, seconds)
        r.mem.stop()
        t_check = time.monotonic()
        checks, attempted, failed = wl.verify(cycles)
        _say(f"check_s {time.monotonic() - t_check:.3f} s (outside every timed region)")
        for c in checks:
            _say(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['check']} {c['detail']}".rstrip())
        for name, (value, unit) in wl.named(untraced if trace else cycles).items():
            _say(f"{name} {value:.6g} {unit}")
        _say(f"fail_frac {failed / attempted:.6g} ratio ({failed} of {attempted} operations)")
        for line in wl.report():
            _say(line)
        if not trace:
            _say("cycles (wall_s/cpu_s) " + " ".join(f"{c['wall']:.3f}/{c['cpu']:.3f}" for c in cycles))
        if trace:
            layers, detail = layer_metrics(wl, tracer, untraced, traced, steps_stats, setup)
            for name, value in sorted(detail.items()):
                _say(f"layer {name} {value:.6g}")
            _write_trace(workload, seed, tracer, layers, detail)
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
        else:
            e2e = wl.e2e(cycles)
            e2e["setup_s"] = setup_s
            e2e["peak_mem_mb"] = r.mem.peak_bytes / 2**20
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        return {
            "correct": failed == 0 and all(c["ok"] for c in checks),
            "attempted": attempted, "failed": failed, "metrics": metrics,
        }
    finally:
        if trace:
            tracer.uninstall()
        r.close()


def _write_trace(workload: str, seed: int, tracer, layers: dict, detail: dict) -> None:
    from perfbench.harness import WORK_ROOT

    out = os.path.join(WORK_ROOT, "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{workload}-seed{seed}.json"), "w") as f:
        json.dump({"layers": layers, "detail": detail, "spans": tracer.dump()}, f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true", help="toy input sizes (self-test)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "outage_data_scraper_spark")):
        print("perfbench: the package outage_data_scraper_spark is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import pyspark

    _say(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} trace {args.trace} "
         f"nproc {len(os.sched_getaffinity(0))} python {platform.python_version()} "
         f"pyspark {pyspark.__version__}")
    result = execute(args.workload, args.seed, args.seconds, bool(args.trace), args.toy)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
