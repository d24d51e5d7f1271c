"""Shared plumbing: timing statistics, the Spark session's lifecycle, the
JVM's memory, and the per-run context every workload receives."""

from __future__ import annotations

import os
import subprocess
import tempfile
import threading
import time
from dataclasses import dataclass, field

# Driver (and, at local[N], executor) heap. Recorded with the numbers: peak
# memory and spill depend on it.
DRIVER_HEAP = "2g"
# How often a commit-log observer polls for a new commit.
OBSERVE_EVERY_S = 0.02


def percentile(values, q: float) -> float:
    """The q-th percentile by linear interpolation between closest ranks
    (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n: int) -> int | None:
    """The highest whole percentile (capped at 99) that has at least ten of
    ``n`` samples beyond it; None when even the 50th has fewer.

    Under :func:`percentile`, level ``k`` sits at rank ``(n-1)k/100``, so
    ten samples lie beyond it while that rank is below ``n - 10``."""
    if n <= 10:
        return None
    level = -(-100 * (n - 10) // (n - 1)) - 1  # ceil(...) - 1
    return min(level, 99) if level >= 50 else None


def describe(values) -> str:
    """One summary: median, the supported tail percentile, sample count."""
    n = len(values)
    if not n:
        return "n=0"
    level = tail_level(n)
    tail = f" p{level}={percentile(values, level):.4g}" if level else ""
    return f"p50={percentile(values, 50):.4g}{tail} n={n}"


@dataclass
class Context:
    """What a workload run gets: its inputs' seed, the measuring window,
    whether spans are recorded, and a private work directory."""

    seed: int
    seconds: float
    work: str
    cores: int
    spark: object = None
    tracer: object = None
    # human-readable summary lines, printed before the result line
    notes: list[str] = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def note(self, line: str) -> None:
        self.notes.append(line)


@dataclass
class Outcome:
    """A workload's result: its end-to-end values by metric name (before
    the shared ``setup_s`` / ``peak_rss_mb``), its operation counts, and the
    layer counters only a traced run reports."""

    setup_s: float
    metrics: dict[str, float]
    attempted: int
    failed: int
    layer: dict[str, float] = field(default_factory=dict)
    # (start, end) of the measured phase, which the spans must account for
    window: tuple[float, float] = (0.0, 0.0)


def timed_setups(n: int, fn) -> tuple[float, list]:
    """Run ``fn(i)`` ``n`` times; returns the median wall time and the
    results. Work a change moves into set-up shows in this median."""
    times, results = [], []
    for i in range(n):
        t0 = time.perf_counter()
        results.append(fn(i))
        times.append(time.perf_counter() - t0)
    return percentile(times, 50), results


def start_spark(work: str, cores: int, event_log_dir: str | None = None):
    """The engine's own session factory, pinned to ``local[cores]``, with
    every scratch path (shuffle, temp files, warehouse, event log) inside
    ``work``."""
    from cdc_tools_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # py4j's connection-info file and Python workers' temp files
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
        # small splits so every stage can occupy all cores at bench volumes
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=2 * cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _gateway_process():
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return gateway, getattr(gateway, "proc", None)


def peak_rss_mb() -> float:
    """Peak resident memory of the Spark JVM (its VmHWM), in MB."""
    _, proc = _gateway_process()
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway, proc = _gateway_process()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class CommitObserver:
    """Polls a commit log from a background thread and records when each
    new high LSN first becomes visible — the reader's view of a commit,
    taken from outside the engine through the commit log's public API."""

    def __init__(self, state_root: str, execution_id: str):
        from cdc_tools_spark.state.commit_log import CommitLog

        self._log = CommitLog(state_root, execution_id)
        self.seen: list[tuple[float, int, int]] = []  # (time, epoch, to_lsn)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        last = None
        while not self._stop.is_set():
            try:
                rec = self._log.last_committed()
            except (OSError, ValueError):  # a chunk rolled away mid-read: poll again
                rec = None
            if rec is not None and rec.epoch != last:
                last = rec.epoch
                self.seen.append((time.time(), rec.epoch, rec.to_lsn))
            self._stop.wait(OBSERVE_EVERY_S)

    def watermark(self) -> int | None:
        return self.seen[-1][2] if self.seen else None

    def __enter__(self) -> CommitObserver:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
