"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is the
result: ``{"correct", "attempted", "failed", "metrics"}`` with every
end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``), each as ``{"value", "unit"}``.  The line before it is a
report with the workload's named figures, sample counts, the resolved
Spark conf and every check by name.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

T_PROCESS = time.monotonic()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from env import (BENCH_DIR, ROOT, RunDirs, cpu_ticks, driver_peak_rss_mb,  # noqa: E402
                 machine_cores, start_session, stop_session, steal_frac)

sys.path.insert(1, ROOT)



def metric_units() -> tuple[dict, dict]:
    """{name: unit} of the end-to-end and of the per-layer metrics, as
    ``BENCHMARK.json`` lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


class Ctx:
    def __init__(self, spark, dirs, seed, cores, tracer, checks):
        self.spark = spark
        self.dirs = dirs
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.checks = checks


#: measured units per run, at the least: one unit would leave a run's
#: figures to a single drain or pass
MIN_UNITS = 2


def run_units(wl, budget_s: float, tracer=None) -> tuple[list[dict], list[dict], list[dict]]:
    """Closed loop: units back to back until their timed seconds reach
    ``budget_s`` and ``MIN_UNITS`` untraced units ran.  With a tracer,
    units alternate untraced/traced, so both see the same warm-up trend.
    Returns (untraced units, traced units, traced unit spans)."""
    plain, traced, roots, spent = [], [], [], 0.0
    while len(plain) < MIN_UNITS or spent < budget_s or (tracer is not None and not traced):
        ticks = cpu_ticks()
        if tracer is not None and len(traced) < len(plain):
            tracer.enabled = True
            with tracer.span("unit") as s:
                u = wl.unit()
            tracer.enabled = False
            roots.append(s)
            traced.append(u)
        else:
            u = wl.unit()
            plain.append(u)
        u["steal_frac"] = steal_frac(ticks, cpu_ticks())
        spent += u["s"]
    return plain, traced, roots


def e2e(wl, units: list[dict]) -> dict:
    from workloads import pct

    ops = wl.op_samples(units)
    return {
        "throughput_per_s": sum(u["work"] for u in units) / sum(u["s"] for u in units),
        "op_ms_p50": pct(ops, 0.5),
        "op_ms_p90": pct(ops, 0.9),
        "op_samples": len(ops),
    }


def scaling_child(args) -> float:
    """replay_bulk at local[1] in its own process (and JVM), measuring
    the fewest drains after the same priming."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", "replay_bulk",
           "--seed", str(args.seed), "--seconds", "1", "--trace", "0", "--cores", "1"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=120, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["throughput_per_s"]["value"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None, help="default: every core (nproc)")
    args = ap.parse_args()

    try:
        import yadex_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    from checks import Checks
    from tracing import EventLog, Tracer, install, per_span
    from workloads import WORKLOADS, layer_metrics

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    ticks0 = cpu_ticks()
    e2e_units, layer_units = metric_units()
    cores = args.cores or machine_cores()
    dirs = RunDirs(args.workload)
    try:
        tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
        if args.trace:
            install(tracer)
        checks = Checks()
        spark, conf, session_s = start_session(f"perfbench-{args.workload}", dirs, cores,
                                               event_log=bool(args.trace))
        try:
            ctx = Ctx(spark, dirs, args.seed, cores, tracer, checks)
            wl = WORKLOADS[args.workload](ctx)
            t0 = time.monotonic()
            inputs = wl.inputs()
            feed_gen_s = time.monotonic() - t0
            t1 = time.monotonic()
            wl.prepare()
            prepare_s = time.monotonic() - t1
            # set-up excludes input generation and any check run while priming
            setup_s = time.monotonic() - T_PROCESS - feed_gen_s - checks.seconds
            setup_steal = steal_frac(ticks0, cpu_ticks())
            t2 = time.monotonic()

            plain, traced, roots = run_units(wl, args.seconds, tracer if args.trace else None)
            # a traced run reports on its traced units; the untraced ones
            # give the tracing overhead
            units = traced if args.trace else plain
            measure_s = time.monotonic() - t2
            wl.check()
            peak_rss = driver_peak_rss_mb(spark)
        finally:
            stop_session(spark)

        fig = e2e(wl, units)
        named = wl.summary(units)
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "conf": conf, "setup_s": setup_s, "setup_steal_frac": setup_steal,
            "phase_s": {"session": session_s, "prepare": prepare_s, "measure": measure_s,
                        "checks": checks.seconds, "total": time.monotonic() - T_PROCESS},
            "feed": {"events": sum(f.events for f in inputs), "bytes": sum(f.bytes for f in inputs),
                     "files": sum(len(f.files) for f in inputs), "gen_s": feed_gen_s,
                     "cached": all(f.cached for f in inputs)},
            "priming_unit_s": getattr(wl, "priming_s", None),
            "units": len(units), "unit_s": [u["s"] for u in units],
            "unit_steal_frac": [u["steal_frac"] for u in units],
            # p90 is reported, not gated: fewer than ten samples lie beyond it
            "op_samples": fig["op_samples"], "op_ms_p90": fig["op_ms_p90"],
            "peak_rss_mb": peak_rss, "named": named,
            "checks": checks.items, "failed_checks": checks.failed,
        }
        # operations are the checked drains or queries
        attempted = len(checks.ops)
        failed = len(checks.failed_ops)
        if args.trace:
            log = EventLog(dirs.eventlog)
            m = layer_metrics(list(layer_units), tracer, log, units, roots,
                              getattr(wl, "lake", None))
            report["per_span"] = per_span(tracer, log)
            m["feed.events"] = float(report["feed"]["events"])
            m["feed.bytes"] = float(report["feed"]["bytes"])
            m["feed.files"] = float(report["feed"]["files"])
            m["feed_gen_s"] = feed_gen_s
            m["driver.peak_rss_mb"] = peak_rss
            untraced = e2e(wl, plain)["throughput_per_s"]
            m["trace.overhead_frac"] = untraced / fig["throughput_per_s"] - 1.0
            if args.workload == "replay_bulk" and cores > 1:
                try:
                    m["scaling.eff_1to4"] = untraced / (cores * scaling_child(args))
                except (subprocess.SubprocessError, ValueError, KeyError) as ex:
                    report["scaling_error"] = repr(ex)[-600:]  # a diagnostic: report, go on
            tracer.write(os.path.join(BENCH_DIR, ".work", f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = {k: {"value": m[k], "unit": u} for k, u in layer_units.items()}
        else:
            vals = {"setup_s": setup_s, **fig}
            metrics = {k: {"value": vals[k], "unit": u} for k, u in e2e_units.items()}
        report["failed_frac"] = failed / attempted
        print(json.dumps(report, default=str))
        print(json.dumps({"correct": not checks.failed, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        dirs.remove()
    return 0


if __name__ == "__main__":
    sys.exit(main())
