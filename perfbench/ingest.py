"""``ingest``: the engine's life cycle in one run — a closed-loop
copy-on-write backfill, then an open-loop merge-on-read tail with reads
beside it.

One small untimed replay first takes the JVM's cold start. Set-up (timed
``SETUPS`` times, the median reported) then writes one backfill log and
one preloaded tail table from sub-seeds of ``--seed``. The backfill phase
replays each set-up's log once into a fresh table
(:mod:`perfbench.backfill`), and the tail phase publishes files for
``--seconds`` into the first set-up's table (:mod:`perfbench.tail`).

End-to-end metrics: ``throughput_per_s`` is the median replay's backfill
change events per second; ``latency_p50_ms`` / ``latency_p90_ms`` are the
tail's per-file freshness. Lookup and full-read latencies are printed as
summary lines and, in a traced run, reported as ``lake.lookup.*`` /
``lake.read.*``.
"""

from __future__ import annotations

import os
import time

from perfbench import backfill, tail
from perfbench.harness import Outcome, describe, percentile, timed_setups

SETUPS = 3


def _setup(ctx, i: int) -> tail.TailInputs:
    root = ctx.path(f"setup{i}")
    backfill.generate_log(ctx.spark, ctx.seed * 1000 + i, os.path.join(root, "log"))
    return tail.setup(
        ctx.spark, os.path.join(root, "tail"), ctx.seed * 1000 + 500 + i,
        tail.n_files_for(ctx.seconds),
    )


def run(ctx) -> Outcome:
    t_setup = time.time()
    # the cold start lands here, not on the first timed set-up
    backfill.warm_up(ctx)
    setup_s, tails = timed_setups(SETUPS, lambda i: _setup(ctx, i))
    logs = [ctx.path(f"setup{i}", "log") for i in range(SETUPS)]

    if ctx.tracer:
        ctx.tracer.install()
    t0 = time.time()
    replays, raised = backfill.measure(ctx, logs)
    tail_run = tail.measure(ctx, tails[0], ctx.seconds)
    if ctx.tracer:
        ctx.tracer.uninstall()

    t_check = time.time()
    failed = raised + sum(backfill.check_replay(ctx, logs[r[0]], r) for r in replays)
    fresh, tail_attempted, tail_failed, layer = tail.settle(ctx, tail_run)
    ctx.note(
        f"phase s: set-up {t0 - t_setup:.1f}, backfill and stream start {tail_run.t0 - t0:.1f}, "
        f"tail {tail_run.t_end - tail_run.t0:.1f}, checks {time.time() - t_check:.1f}"
    )
    rates = [backfill.EVENTS / dt for _, dt, _ in replays]
    events_per_s = percentile(rates, 50) if rates else 0.0
    ctx.note(f"backfill events/s per replay: {describe(rates)}")
    if ctx.tracer and replays:
        layer["pipeline.scaling_efficiency"] = backfill.scaling_efficiency(
            ctx, logs[0], events_per_s
        )
    return Outcome(
        setup_s,
        {
            "throughput_per_s": events_per_s,
            "latency_p50_ms": 1000 * percentile(fresh, 50) if fresh else 0.0,
            "latency_p90_ms": 1000 * percentile(fresh, 90) if fresh else 0.0,
        },
        # each replay, and each completed replay's reference check
        attempted=2 * len(replays) + raised + tail_attempted,
        failed=failed + tail_failed,
        layer=layer,
        window=(t0, tail_run.t_end),
    )
