"""The backfill phase: closed-loop replays of stored, seeded change logs
into fresh copy-on-write tables, one after another.

Each replay plans two large epochs over its whole log; every epoch touches
every bucket, so its time follows data volume (scan, parity sha256,
last-write-wins aggregation, bucket-routed write) as well as the per-epoch
fixed costs. 20% of events land on 5 hot keys.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from perfbench.harness import CommitObserver, describe

EVENTS = 120_000
# The untimed warm-up replay's size. It takes the JVM's cold first-replay
# cost (~7 s on a 4-core host, whatever the size); replay throughput then
# keeps climbing over the next four or five replays as the JIT warms up.
WARMUP_EVENTS = 4_000
EPOCHS = 2
BUCKETS = 16
HOT_KEY_PCT = 20
HOT_KEYS = 5
CONTENT_CHARS = 256


def generate_log(spark, seed: int, path: str, events: int = EVENTS) -> None:
    from cdc_tools_spark.sources.binlog import synthetic_binlog

    synthetic_binlog(
        spark, events, n_keys=events // 20, txn_size=4, n_repos=200,
        hot_key_pct=HOT_KEY_PCT, n_hot_keys=HOT_KEYS,
        content_chars=CONTENT_CHARS, seed=seed,
    ).write.parquet(path)


def replay_once(spark, log_path: str, out: str, events: int = EVENTS, epochs: int = EPOCHS):
    """One replay of a stored log into a new table under ``out``; returns
    (seconds until a reader sees the last epoch's commit, summary)."""
    from cdc_tools_spark.pipeline import ReplayConfig, replay

    log = spark.read.parquet(log_path)
    config = ReplayConfig(
        epoch_events=events // epochs, num_buckets=BUCKETS,
        epoch_strategy="quantile", total_events=events,
        bucket_pruning=False, parity_column=True, merge_mode="cow",
    )
    state = os.path.join(out, "state")
    with CommitObserver(state, "run-0") as seen:
        t0 = time.time()
        summary = replay(spark, log, os.path.join(out, "table"), state, config=config)
        while not seen.seen or seen.seen[-1][1] < summary.epochs_applied - 1:
            if time.time() - t0 > 120:
                raise TimeoutError("last epoch's commit never became visible")
            time.sleep(0.002)
    return seen.seen[-1][0] - t0, summary


def warm_up(ctx) -> None:
    """One small untimed replay, so the measured ones do not pay the JVM's
    cold start."""
    path = ctx.path("warmup_log")
    generate_log(ctx.spark, ctx.seed * 1000 + 999, path, WARMUP_EVENTS)
    replay_once(ctx.spark, path, ctx.path("warmup"), WARMUP_EVENTS, epochs=1)


def measure(ctx, logs: list[str]) -> tuple[list, int]:
    """Replay each log once, back to back, into a fresh table; returns the
    (index, seconds, summary) of each replay that completed and the count
    that raised."""
    replays, raised = [], 0
    for i, log in enumerate(logs):
        try:
            dt, summary = replay_once(ctx.spark, log, ctx.path(f"replay{i}"))
        except Exception as e:  # noqa: BLE001 — a failed replay is counted, not fatal
            ctx.note(f"replay {i} raised: {e!r}")
            raised += 1
            continue
        replays.append((i, dt, summary))
    times = [dt for _, dt, _ in replays]
    ctx.note(f"replay s: {describe(times)}")
    return replays, raised


def check_replay(ctx, log_path: str, replay) -> int:
    """Outside the window: one replay's table against the reference over
    its log, plus the parity column and the epoch count. Returns 1 on any
    mismatch."""
    from cdc_tools_spark.lake.parquet_merge import ParquetMergeTable

    from perfbench.reference import parity_mismatches, reference_state, state_mismatches

    spark = ctx.spark
    i, _, summary = replay
    table = ParquetMergeTable(spark, ctx.path(f"replay{i}", "table")).read()
    wrong = state_mismatches(table, reference_state(spark.read.parquet(log_path)))
    bad_parity = parity_mismatches(table)
    ctx.note(
        f"replay {i} reference check: {wrong} row mismatches, "
        f"{bad_parity} parity mismatches, "
        f"{summary.epochs_applied} epochs"
    )
    return int(bool(wrong or bad_parity or summary.epochs_applied != EPOCHS))


def scaling_efficiency(ctx, log_path: str, events_per_s: float) -> float:
    """Replay throughput at local[cores] over ``cores`` × the throughput at
    local[1], the latter from a child process that replays the same log
    twice and times the second (after this run's window, never beside it)."""
    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, os.path.join(here, "run.py"), "--single-core-replay", log_path],
        capture_output=True, text=True, timeout=150, check=True,
    ).stdout
    single = json.loads(out.strip().splitlines()[-1])["events_per_s"]
    ctx.note(f"local[1] replay events/s: {single:.1f}")
    return events_per_s / (ctx.cores * single)
