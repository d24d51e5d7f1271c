"""The tail phase: an open-loop streaming tail into a merge-on-read table,
with point lookups and full reads running beside it.

Set-up preloads a MOR table by replaying a seeded log and stages the rest
of that log as small parquet files. In the measured window a publisher
thread moves one staged file into the tailed directory per scheduled slot
(``RATE`` files/s with seeded jitter) by atomic rename — no Spark work, so
publishing never slows when the engine does. Every file is timed from its
scheduled slot to the first commit a reader observes that covers its
highest LSN. Meanwhile the main thread looks up keys from the newest
published file every ``LOOKUP_EVERY_S`` and reads the whole table every
``FULL_READ_EVERY_S``.
"""

from __future__ import annotations

import contextlib
import os
import random
import threading
import time
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.harness import CommitObserver, describe, percentile
from perfbench.reference import (
    KEY_COLS,
    PAYLOAD_COLS,
    reference_state,
    state_as_of,
    state_mismatches,
)

PRELOAD_EVENTS = 30_000
FILE_EVENTS = 500  # a multiple of the generator's 4-event transactions
# Files published per second: 4,000 change events/s offered, about 40% of
# the tail's sustainable rate at local[4] on a 4-core host (9,100-10,300
# events/s, ~19 files/s, measured by tail_capacity.py at 40 files/s
# offered). A batch takes about as long with 1,000 rows as with 16,000, so
# at this rate freshness is the fixed per-batch cost (its p50 is within
# 15% of the p50 at 2 files/s), not queueing.
RATE = 8.0
N_KEYS = 20_000
BUCKETS = 16
MAX_FILES_PER_TRIGGER = 32
MOR_MAX_DELTAS = 4  # the governor folds a bucket after 4 deltas
LOOKUP_EVERY_S = 0.5
FULL_READ_EVERY_S = 5.0
BACKLOG_BOUND_S = 15.0  # a file still unapplied this long after the window fails


@dataclass
class TailInputs:
    preload: str  # the preloaded part of the log (parquet dir)
    table: str
    state: str
    warmup: tuple[str, int]  # applied before the window: the stream's cold start
    staged: list[tuple[str, int]]  # (staged file path, its highest lsn)
    schedule: list[float]  # publish slot of each file, seconds after start


def publish_schedule(seed: int, n_files: int) -> list[float]:
    """Slot ``i`` sits at ``(i + u)/RATE`` with ``u`` drawn in [0, 0.5)."""
    rng = random.Random(seed)
    return [(i + 0.5 * rng.random()) / RATE for i in range(n_files)]


def n_files_for(seconds: float) -> int:
    return max(1, int(seconds * RATE))


def tail_log(spark, seed: int, n_files: int):
    from cdc_tools_spark.sources.binlog import synthetic_binlog

    return synthetic_binlog(
        spark, PRELOAD_EVENTS + (n_files + 1) * FILE_EVENTS, n_keys=N_KEYS, txn_size=4,
        n_repos=200, hot_key_pct=20, n_hot_keys=5, content_chars=128, seed=seed,
    )


def stage_files(frame, n_files: int, staging: str) -> list[tuple[str, int]]:
    """Split the tail's events (pandas, any order) into ``n_files`` parquet
    files of consecutive LSNs, written with pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    frame = frame.sort_values(["lsn", "seqval"], kind="mergesort").reset_index(drop=True)
    os.makedirs(staging, exist_ok=True)
    staged = []
    for k in range(n_files):
        part = frame.iloc[k * FILE_EVENTS : (k + 1) * FILE_EVENTS]
        path = os.path.join(staging, f"part-{k:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
        staged.append((path, int(part["lsn"].max())))
    return staged


def setup(spark, root: str, seed: int, n_files: int) -> TailInputs:
    import pyspark.sql.functions as F

    from cdc_tools_spark.pipeline import ReplayConfig, replay

    log = tail_log(spark, seed, n_files)
    cut = PRELOAD_EVENTS // 4  # first lsn of the tail
    preload = os.path.join(root, "preload")
    log.where(F.col("lsn") < cut).write.parquet(preload)
    warmup, *staged = stage_files(
        log.where(F.col("lsn") >= cut).toPandas(), n_files + 1, os.path.join(root, "staged")
    )
    inputs = TailInputs(
        preload, os.path.join(root, "table"), os.path.join(root, "state"), warmup,
        staged, publish_schedule(seed, n_files),
    )
    replay(
        spark, spark.read.parquet(preload), inputs.table, inputs.state,
        config=ReplayConfig(
            epoch_events=PRELOAD_EVENTS, num_buckets=BUCKETS, merge_mode="mor",
            total_events=PRELOAD_EVENTS, bucket_pruning=False,
        ),
    )
    return inputs


class Publisher(threading.Thread):
    """Moves staged files into the tailed directory on schedule."""

    def __init__(self, inputs: TailInputs, log_dir: str, t0: float, observer):
        super().__init__(daemon=True)
        self.inputs, self.log_dir, self.t0, self.observer = inputs, log_dir, t0, observer
        self.published = 0
        self.late_max_s = 0.0
        self.backlog_max = 0

    def run(self) -> None:
        for (path, _), slot in zip(self.inputs.staged, self.inputs.schedule):
            due = self.t0 + slot
            time.sleep(max(0.0, due - time.time()))
            os.utime(path)  # the file source orders new files by mtime
            os.rename(path, os.path.join(self.log_dir, os.path.basename(path)))
            self.late_max_s = max(self.late_max_s, time.time() - due)
            self.published += 1
            mark = self.observer.watermark()
            self.backlog_max = max(
                self.backlog_max,
                sum(1 for _, hi in self.inputs.staged[: self.published]
                    if mark is None or hi > mark),
            )


class BatchListener(StreamingQueryListener):
    """Streaming progress (traced runs): batch durations and sizes."""

    def __init__(self):
        self.batches: list[tuple[float, int]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows:
            self.batches.append((p.batchDuration / 1000.0, p.numInputRows))

    def onQueryTerminated(self, event):
        pass


@dataclass
class TailRun:
    """What the tail phase observed, for :func:`settle` to check and sum up."""

    inputs: TailInputs
    log_dir: str
    t0: float
    t_end: float
    seen: list  # the commit observer's (time, epoch, to_lsn) records
    lookups: list
    reads: list
    publisher: Publisher
    listener: BatchListener | None


def measure(ctx, inputs: TailInputs, seconds: float) -> TailRun:
    """Tail the preloaded table for ``seconds`` of publishing, with lookups
    and full reads beside it, then wait (up to ``BACKLOG_BOUND_S``) for the
    last file's commit. The clock starts once the stream has applied one
    warm-up file, so the query's cold start is not charged to the first
    files."""
    from cdc_tools_spark.lake.parquet_merge import ParquetMergeTable
    from cdc_tools_spark.streaming.tail import StreamConfig, stream_tail

    spark = ctx.spark
    log_dir = os.path.join(os.path.dirname(inputs.table), "log")
    os.makedirs(log_dir)
    table = ParquetMergeTable(spark, inputs.table)
    rng = random.Random(ctx.seed)
    staged_keys = _staged_keys(inputs)
    listener = None
    if ctx.tracer:
        listener = BatchListener()
        spark.streams.addListener(listener)
    lookups, reads = [], []
    with CommitObserver(inputs.state, "stream-0") as observer:
        query = stream_tail(
            spark, log_dir, inputs.table, inputs.state,
            os.path.join(os.path.dirname(inputs.table), "checkpoint"),
            execution_id="stream-0",
            config=StreamConfig(
                num_buckets=BUCKETS, merge_mode="mor",
                max_files_per_trigger=MAX_FILES_PER_TRIGGER, mor_max_deltas=MOR_MAX_DELTAS,
            ),
        )
        path, warm_lsn = inputs.warmup
        os.rename(path, os.path.join(log_dir, os.path.basename(path)))
        deadline = time.time() + BACKLOG_BOUND_S
        while (observer.watermark() or -1) < warm_lsn and time.time() < deadline:
            time.sleep(0.01)
        while query.status["isTriggerActive"] and time.time() < deadline:
            time.sleep(0.01)
        t0 = time.time()
        publisher = Publisher(inputs, log_dir, t0, observer)
        publisher.start()
        next_read = t0 + FULL_READ_EVERY_S
        next_lookup = t0 + LOOKUP_EVERY_S
        while time.time() < t0 + seconds:
            now = time.time()
            if now >= next_read:
                next_read += FULL_READ_EVERY_S
                reads.append(_full_read(ctx, table))
            elif now >= next_lookup and publisher.published:
                next_lookup = now + LOOKUP_EVERY_S
                key = rng.choice(staged_keys[publisher.published - 1])
                lookups.append(_lookup(ctx, table, key, observer))
            else:
                time.sleep(max(0.0, min(next_read, next_lookup) - now) or 0.005)
        publisher.join()
        last_lsn = inputs.staged[-1][1]
        deadline = time.time() + BACKLOG_BOUND_S
        while (observer.watermark() or -1) < last_lsn and time.time() < deadline:
            time.sleep(0.01)
        t_end = time.time()
        # let the batch that committed last finish its governor fold
        while query.status["isTriggerActive"] and time.time() < deadline:
            time.sleep(0.01)
        query.stop()
        seen = list(observer.seen)
    if listener:
        spark.streams.removeListener(listener)
    return TailRun(inputs, log_dir, t0, t_end, seen, lookups, reads, publisher, listener)


def settle(ctx, run: TailRun) -> tuple[list[float], int, int, dict]:
    """Check the tail's outputs and sum it up: (per-file freshness,
    operations attempted, operations failed, layer counters)."""
    from cdc_tools_spark.lake.parquet_merge import ParquetMergeTable

    inputs = run.inputs
    fresh, unapplied = _freshness(inputs, run.seen, run.t0)
    failed = unapplied + sum(1 for r in run.reads if r is None)
    failed += _check(
        ctx, inputs, run.log_dir, ParquetMergeTable(ctx.spark, inputs.table),
        run.lookups, run.seen,
    )
    rates = batch_rates(inputs, run.seen)
    lookup_s = [dt for _, dt, *_ in run.lookups if dt is not None]
    ctx.note(f"freshness s: {describe(fresh)}")
    ctx.note(f"applied events/s per commit: {describe(rates)}")
    ctx.note(f"lookup ms: {describe([1000 * x for x in lookup_s])}")
    ctx.note(f"full read s: {describe([r for r in run.reads if r is not None])}")
    ctx.note(
        f"publisher late max s: {run.publisher.late_max_s:.4f}; unapplied files: {unapplied}"
    )
    layer = {
        "bench.publisher_late_max_s": run.publisher.late_max_s,
        "streaming.backlog_files_max": float(run.publisher.backlog_max),
        "state.files": float(sum(len(n) for _, _, n in os.walk(inputs.state))),
    }
    batches = run.listener.batches if run.listener else []
    if batches:
        layer["streaming.batches"] = float(len(batches))
        layer["streaming.batch_p50_s"] = percentile([d for d, _ in batches], 50)
        layer["streaming.rows_per_batch"] = sum(n for _, n in batches) / len(batches)
    attempted = len(inputs.staged) + len(run.lookups) + len(run.reads) + 1
    return fresh, attempted, failed, layer


def _staged_keys(inputs: TailInputs) -> list[list[tuple[str, str]]]:
    import pyarrow.parquet as pq

    keys = []
    for path, _ in inputs.staged:
        t = pq.read_table(path, columns=list(KEY_COLS))
        keys.append(sorted(set(zip(*(t.column(c).to_pylist() for c in KEY_COLS)))))
    return keys


def _span(ctx, name: str):
    """A bench-side span around a lazy call and the action that runs it."""
    return ctx.tracer.span(name) if ctx.tracer else contextlib.nullcontext()


def _full_read(ctx, table) -> float | None:
    if ctx.tracer:
        ctx.tracer.add("read.files", sum(len(n) for _, _, n in os.walk(table.root)))
    t = time.perf_counter()
    try:
        with _span(ctx, "lake.read"):
            table.read().write.format("noop").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001 — counted as a failed read
        ctx.note(f"full read raised: {e!r}")
        return None
    return time.perf_counter() - t


def _lookup(ctx, table, key, observer):
    """(key, seconds or None if raised, rows, watermark before, after)."""
    before = observer.watermark()
    t = time.perf_counter()
    try:
        with _span(ctx, "lake.lookup"):
            rows = [tuple(r) for r in table.lookup(*key).select(*PAYLOAD_COLS).collect()]
        dt = time.perf_counter() - t
    except Exception as e:  # noqa: BLE001 — counted as a failed lookup
        ctx.note(f"lookup raised: {e!r}")
        rows, dt = None, None
    return key, dt, rows, before, observer.watermark()


def batch_rates(inputs: TailInputs, seen) -> list[float]:
    """Events each commit applied over the time since the one before it:
    the offered rate while the engine keeps up, its capacity once it
    cannot."""
    from cdc_tools_spark.state.commit_log import CommitLog

    raw = {
        r.epoch: r.applied_upserts + r.applied_deletes + r.skipped_events
        for r in CommitLog(inputs.state, "stream-0").records()
    }
    return [
        raw.get(epoch, 0) / (t - t_prev)
        for (t_prev, _, _), (t, epoch, _) in zip(seen, seen[1:])
    ]


def _freshness(inputs: TailInputs, seen, t0: float) -> tuple[list[float], int]:
    fresh, unapplied = [], 0
    for (_, hi), slot in zip(inputs.staged, inputs.schedule):
        hit = next((t for t, _, lsn in seen if lsn >= hi), None)
        if hit is None:
            unapplied += 1
        else:
            fresh.append(hit - (t0 + slot))
    return fresh, unapplied


def _check(ctx, inputs: TailInputs, log_dir: str, table, lookups, seen) -> int:
    """Outside the window: the final table against the reference over the
    preload and every published file, and each lookup against the
    reference as of the commits it could have seen. Returns the number of
    failures."""
    import pyspark.sql.functions as F

    from cdc_tools_spark.sources.binlog import BINLOG_SCHEMA

    spark = ctx.spark
    events = spark.read.parquet(inputs.preload).unionByName(
        spark.read.schema(BINLOG_SCHEMA).parquet(log_dir)
    )
    wrong = state_mismatches(table.read(), reference_state(events))

    keys = sorted({k for k, *_ in lookups})
    history: dict[tuple, list[dict]] = {k: [] for k in keys}
    if keys:
        cond = None
        for repo, path in keys:
            e = (F.col("repo") == repo) & (F.col("path") == path)
            cond = e if cond is None else cond | e
        for r in events.where(cond).collect():
            history[(r["repo"], r["path"])].append(r.asDict())
    preload_lsn = PRELOAD_EVENTS // 4 - 1
    commits = sorted(lsn for _, _, lsn in seen)
    bad_lookups = 0
    for key, dt, rows, before, after in lookups:
        if rows is None:
            bad_lookups += 1
            continue
        lo = preload_lsn if before is None else before
        hi_mark = preload_lsn if after is None else after
        nxt = next((c for c in commits if c > hi_mark), hi_mark)
        allowed = {lo} | {c for c in commits if lo <= c <= nxt}
        got = rows[0] if len(rows) == 1 else (None if not rows else "many")
        if not any(state_as_of(history[key], w).get(key) == got for w in allowed):
            bad_lookups += 1
    ctx.note(f"reference check: {wrong} row mismatches, {bad_lookups}/{len(lookups)} lookups wrong")
    return int(wrong > 0) + bad_lookups
