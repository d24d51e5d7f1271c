#!/usr/bin/env python3
"""Measure the tail's capacity, the figure ``tail.RATE`` is set against.

    python3 perfbench/tail_capacity.py --rates 2,8,16,40 --seconds 8 --seed 5

Run from the root of a checkout. For each offered rate (files/s of
``tail.FILE_EVENTS`` events) it sets up a fresh preloaded MOR table, runs
the tail phase exactly as the ``ingest`` workload does (lookups and full
reads beside it), checks the outputs, and prints one line: freshness p50 /
p90, the applied events/s per commit (the offered rate while the tail
keeps up, its capacity once it cannot), and the streaming batches' median
duration and rows. At an offered rate well above capacity the per-commit
rate is the sustainable one.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--rates", default="2,8,16,40", help="offered files/s, comma-separated")
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--seed", type=int, default=5)
    args = p.parse_args(argv)

    sys.path[:] = [ROOT] + [x for x in sys.path if os.path.abspath(x or ".") != HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x
    )
    from perfbench import backfill, tail
    from perfbench.harness import Context, percentile, start_spark, stop_spark

    work = os.path.join(ROOT, ".perfbench_work", f"capacity-{os.getpid()}-{int(time.time())}")
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    failed = 0
    try:
        spark = start_spark(work, cores)
        try:
            ctx = Context(seed=args.seed, seconds=args.seconds, work=work, cores=cores, spark=spark)
            backfill.warm_up(ctx)
            print(f"# local[{cores}], {tail.FILE_EVENTS} events/file, "
                  f"max {tail.MAX_FILES_PER_TRIGGER} files/batch")
            for rate in (float(r) for r in args.rates.split(",")):
                tail.RATE = rate
                inputs = tail.setup(
                    spark, ctx.path(f"rate{rate:g}"), args.seed * 1000 + int(rate),
                    tail.n_files_for(args.seconds),
                )
                listener = tail.BatchListener()
                spark.streams.addListener(listener)
                run = tail.measure(ctx, inputs, args.seconds)
                spark.streams.removeListener(listener)
                fresh, _, bad, _ = tail.settle(ctx, run)
                rates = tail.batch_rates(inputs, run.seen)
                failed += bad
                print(
                    f"offered {rate:g} files/s ({rate * tail.FILE_EVENTS:.0f} events/s): "
                    f"freshness p50 {percentile(fresh, 50):.2f} s "
                    f"p90 {percentile(fresh, 90):.2f} s; "
                    f"applied events/s per commit p50 {percentile(rates, 50):.0f}; "
                    f"batch p50 {percentile([d for d, _ in listener.batches], 50):.2f} s, "
                    f"{percentile([n for _, n in listener.batches], 50):.0f} rows; "
                    f"failed {bad}",
                    flush=True,
                )
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
