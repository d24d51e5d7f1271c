#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed``; the
engine sees only them. Every output is checked against a reference outside
the measured window. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a run with
spans installed and the Spark event log on. Lines before it (prefixed
``#``) summarise each timing as its median, its highest percentile with at
least ten samples beyond it, and the sample count. Exits 1 when any
operation failed or any output mismatched its reference.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "operator_suite")
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _single_core_replay(log_path: str, work: str) -> int:
    """The local[1] side of the scaling ratio: one warm-up replay of the
    log, then one measured replay; prints ``{"events_per_s": ...}``."""
    from perfbench import backfill
    from perfbench.harness import start_spark, stop_spark

    spark = start_spark(work, 1)
    try:
        for i in range(2):
            dt, _ = backfill.replay_once(spark, log_path, os.path.join(work, f"r{i}"))
    finally:
        stop_spark(spark)
    print(json.dumps({"events_per_s": backfill.EVENTS / dt}))
    return 0


def run_workload(args, work: str) -> int:
    from perfbench import ingest, suite
    from perfbench.harness import Context, peak_rss_mb, start_spark, stop_spark
    from perfbench.spans import Tracer, per_layer_units

    runner = {"ingest": ingest.run, "operator_suite": suite.run}[args.workload]
    ctx = Context(seed=args.seed, seconds=args.seconds, work=work, cores=_cores())
    event_logs = os.path.join(work, "eventlog") if args.trace else None
    ctx.spark = start_spark(work, ctx.cores, event_logs)
    try:
        if args.trace:
            ctx.tracer = Tracer(ctx.spark)
        outcome = runner(ctx)
        peak = peak_rss_mb()
    finally:
        stop_spark(ctx.spark)

    if args.trace:
        (log_name,) = os.listdir(event_logs)
        values = ctx.tracer.layer_metrics(os.path.join(event_logs, log_name), outcome.window)
        values.update(outcome.layer)
        values["traced.throughput_per_s"] = outcome.metrics["throughput_per_s"]
        values["traced.latency_p50_ms"] = outcome.metrics["latency_p50_ms"]
        values["bench.peak_rss_mb"] = peak
        units = per_layer_units()
        ctx.note(
            f"spans: top-level {values['bench.top_level_s']:.3f} s + unattributed "
            f"{values['unattributed_s']:.3f} s = wall {values['bench.wall_s']:.3f} s"
        )
    else:
        values = {"setup_s": outcome.setup_s, **outcome.metrics}
        units = END_TO_END
    ctx.note(f"peak JVM resident memory: {peak:.1f} MB")
    for line in ctx.notes:
        print(f"# {line}")
    correct = outcome.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": {
                    name: {"value": float(values[name]), "unit": unit}
                    for name, unit in units.items()
                },
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--single-core-replay", metavar="LOG", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if not args.workload and not args.single_core_replay:
        p.error("--workload is required")

    # the checkout root, not this directory, leads the import path (and the
    # Python workers' path)
    sys.path[:] = [ROOT] + [x for x in sys.path if os.path.abspath(x or ".") != HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x
    )
    import cdc_tools_spark  # noqa: F401 — fails fast outside a full checkout

    work = os.path.join(
        ROOT, ".perfbench_work",
        f"{args.workload or 'single'}-{args.seed}-{os.getpid()}-{int(time.time())}",
    )
    os.makedirs(work)
    try:
        if args.single_core_replay:
            return _single_core_replay(args.single_core_replay, work)
        return run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
