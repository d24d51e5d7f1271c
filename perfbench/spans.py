"""Traced runs: spans around calls into each layer's public functions,
recorded from outside the engine, and the Spark event log folded into
per-layer metrics by the job group each span sets.

:meth:`Tracer.install` wraps the eager public functions in place
(``pipeline.replay``, ``operators.plan_epochs``, ``lake.merge``,
``lake.compact_table``, ``state.commit`` and five ``ops.dedup`` stages).
Calls that return a lazy DataFrame get their span from the benchmark,
around the call and the action that runs it (``lake.lookup``,
``lake.read``, ``queries.<leaf>``); the dedup stages stay wrapped as
called, so inside a suite leaf they time only their eager part.

A span records its name, start, end, parent span (same thread) and whether
the call raised. Every Spark job launched while a span is innermost on its
thread carries the span's job group, so the event log attributes jobs,
tasks, executor time, GC, shuffle, spill and input bytes to it. A span's
numbers include its children's; ``driver_gap_s`` is the span's wall time
not covered by any of its jobs.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench:"

DEDUP_STAGES = (
    "minhash_lsh_candidates",
    "neardup_pairs",
    "connected_components",
    "lsh_band_index",
    "neardup_pairs_incremental",
)

# The operator-suite leaves: the frozen bench.py set, in its order.
SUITE_LEAVES = (
    "cdc_changelog",
    "cdc_compaction",
    "cdc_transactions",
    "cdc_upsert_delete_split",
    "pricing_summary",
    "top_customer_revenue",
    "nation_order_volume",
    "events_hourly",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_incremental",
    "ann_kmeans_assign",
    "text_quality",
    "text_repetition",
    "decontaminate",
    "quality_filter",
    "bpe_pairs",
    "key_profile_events",
    "pack_sequences",
)

# Which measures each span reports; the list is trimmed to what an
# optimisation of that layer is most likely to move.
SPAN_MEASURES: dict[str, tuple[str, ...]] = {
    "pipeline.replay": ("calls", "s", "jobs", "driver_gap_s", "retries"),
    "operators.plan_epochs": ("calls", "s", "jobs", "executor_run_s", "driver_gap_s"),
    "lake.merge": (
        "calls", "s", "jobs", "tasks", "executor_run_s", "gc_s",
        "shuffle_write_bytes", "spill_bytes", "input_bytes", "driver_gap_s",
        "retries", "failed",
    ),
    "lake.compact_table": (
        "calls", "s", "jobs", "executor_run_s", "shuffle_write_bytes", "driver_gap_s",
    ),
    "lake.lookup": ("calls", "s", "jobs", "input_bytes", "driver_gap_s", "failed"),
    "lake.read": ("calls", "s", "jobs", "executor_run_s", "input_bytes", "driver_gap_s"),
    "state.commit": ("calls", "s"),
    **{
        f"ops.dedup.{stage}": ("s", "jobs", "executor_run_s", "driver_gap_s")
        for stage in DEDUP_STAGES
    },
    **{f"queries.{leaf}": ("s", "jobs") for leaf in SUITE_LEAVES},
}

# Counters and ratios measured at the same boundaries, and the run's own
# accounting (top-level spans + unattributed_s = wall_s).
EXTRA_METRICS: dict[str, str] = {
    "lake.merge.bytes_written": "bytes",
    "lake.merge.files_written": "count",
    "lake.merge.applied_ratio": "ratio",
    "lake.compact_table.folds": "count",
    "lake.read.delta_files": "count",
    "state.files": "count",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.rows_per_batch": "count",
    "streaming.backlog_files_max": "count",
    "bench.publisher_late_max_s": "s",
    "ops.dedup.candidates": "count",
    "ops.dedup.pairs": "count",
    "ops.dedup.cc_rounds": "count",
    "ops.dedup.verify_yield": "ratio",
    "pipeline.scaling_efficiency": "ratio",
    "bench.peak_rss_mb": "MB",
    "bench.wall_s": "s",
    "bench.top_level_s": "s",
    "unattributed_s": "s",
    # the traced run's own end-to-end numbers: minus the untraced run's,
    # the tracing overhead
    "traced.throughput_per_s": "1/s",
    "traced.latency_p50_ms": "ms",
}

MEASURE_UNITS = {
    "calls": "count", "s": "s", "jobs": "count", "tasks": "count",
    "executor_run_s": "s", "gc_s": "s", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "input_bytes": "bytes", "driver_gap_s": "s",
    "retries": "count", "failed": "count",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {
        f"{span}.{m}": MEASURE_UNITS[m]
        for span, measures in SPAN_MEASURES.items()
        for m in measures
    }
    out.update(EXTRA_METRICS)
    return out


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    failed: bool = False


@dataclass
class JobStat:
    start: float
    end: float
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    retries: int = 0


@dataclass
class Tracer:
    """Records spans; :meth:`install` wraps the layers' public functions
    in place and :meth:`uninstall` restores them."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _ids: itertools.count = field(default_factory=itertools.count)
    _patched: list = field(default_factory=list)
    _deferred: list = field(default_factory=list)

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _label(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{span.sid}", span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        """A span on this thread, its job group set for its duration."""
        stack = self._stack()
        with self._lock:
            span = Span(next(self._ids), name, stack[-1].sid if stack else None, 0.0)
            self.spans.append(span)
        stack.append(span)
        self._label(span)
        span.start = time.time()
        span.failed = True
        try:
            yield span
            span.failed = False
        finally:
            span.end = time.time()
            stack.pop()
            self._label(stack[-1] if stack else None)

    def wrap(self, name: str, fn, before=None, after=None):
        """``fn`` inside a span; ``before(args, kwargs)`` runs ahead of the
        span and its result goes to ``after(state, result, args)``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            state = before(args, kwargs) if before else None
            with self.span(name):
                result = fn(*args, **kwargs)
            if after:
                after(state, result, args)
            return result

        return traced

    # -- installation ------------------------------------------------------
    def _patch_everywhere(self, original, replacement) -> None:
        """Rebind every reference a loaded engine module holds to
        ``original`` (module globals, ``from x import f`` copies)."""
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("cdc_tools_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, replacement)
                    self._patched.append((mod, attr, original))

    def _patch_method(self, cls, attr: str, replacement) -> None:
        self._patched.append((cls, attr, cls.__dict__[attr]))
        setattr(cls, attr, replacement)

    def install(self) -> None:
        import cdc_tools_spark.operators.epochs as epochs
        import cdc_tools_spark.ops.dedup as dedup
        import cdc_tools_spark.pipeline as pipeline
        import cdc_tools_spark.queries  # noqa: F401 — load every referrer
        import cdc_tools_spark.streaming.tail  # noqa: F401
        from cdc_tools_spark.lake.parquet_merge import ParquetMergeTable as PMT
        from cdc_tools_spark.state.commit_log import CommitLog

        self._patch_everywhere(
            pipeline.replay, self.wrap("pipeline.replay", pipeline.replay)
        )
        self._patch_everywhere(
            epochs.plan_epochs, self.wrap("operators.plan_epochs", epochs.plan_epochs)
        )
        self._patch_method(
            PMT, "merge",
            self.wrap("lake.merge", PMT.merge, _files_under_root, self._after_merge),
        )
        self._patch_method(PMT, "compact_table", self.wrap("lake.compact_table", PMT.compact_table))
        self._patch_method(CommitLog, "commit", self.wrap("state.commit", CommitLog.commit))
        for stage in DEDUP_STAGES:
            fn = getattr(dedup, stage)
            before = after = None
            if stage == "connected_components":
                before, after = _inject_cc_stats, self._after_cc
            elif stage in ("minhash_lsh_candidates", "neardup_pairs"):
                key = "candidates" if stage == "minhash_lsh_candidates" else "pairs"
                after = functools.partial(self._defer_count, key)
            self._patch_everywhere(fn, self.wrap(f"ops.dedup.{stage}", fn, before, after))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- counters measured around calls -----------------------------------
    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counters[key] += value

    def _after_merge(self, before, result, args) -> None:
        files, size = _files_under_root(args, {})
        self.add("lake.merge.files_written", files - before[0])
        self.add("lake.merge.bytes_written", size - before[1])
        if result.raw_events > 0:
            self.add("merge.applied", result.upserts + result.deletes)
            self.add("merge.raw", result.raw_events)

    def _after_cc(self, stats, result, args) -> None:
        with self._lock:
            self.counters["ops.dedup.cc_rounds"] = stats.get("rounds", 0)

    def _defer_count(self, key: str, state, result, args) -> None:
        with self._lock:
            self._deferred.append((key, result))

    def settle_counts(self) -> None:
        """Count the frames the dedup stages returned — run after the
        measured window, so these jobs stay out of every span."""
        for key, df in self._deferred:
            self.counters[f"ops.dedup.{key}"] = df.count()
        self._deferred.clear()

    # -- folding -----------------------------------------------------------
    def layer_metrics(self, event_log: str, wall: tuple[float, float]) -> dict[str, float]:
        """Fold the event log and the spans into every per-layer metric;
        metrics of layers this workload never called read 0."""
        jobs = fold_event_log(event_log)
        out = dict.fromkeys(per_layer_units(), 0.0)
        out.update(span_metrics(self.spans, jobs))
        c = self.counters
        for key in (
            "lake.merge.files_written", "lake.merge.bytes_written",
            "ops.dedup.candidates", "ops.dedup.pairs", "ops.dedup.cc_rounds",
        ):
            out[key] = c.get(key, 0.0)
        if c.get("merge.raw"):
            out["lake.merge.applied_ratio"] = c["merge.applied"] / c["merge.raw"]
        if out["lake.read.calls"]:
            out["lake.read.delta_files"] = c.get("read.files", 0.0) / out["lake.read.calls"]
        if out["ops.dedup.candidates"]:
            out["ops.dedup.verify_yield"] = out["ops.dedup.pairs"] / out["ops.dedup.candidates"]
        out["lake.compact_table.folds"] = sum(
            1 for s in self.spans
            if s.name == "lake.compact_table" and _jobs_of(s, self.spans, jobs)
        )
        top = [
            (max(s.start, wall[0]), min(s.end, wall[1]))
            for s in self.spans if s.parent is None
        ]
        out["bench.wall_s"] = wall[1] - wall[0]
        out["bench.top_level_s"] = _union_length(top)
        out["unattributed_s"] = out["bench.wall_s"] - out["bench.top_level_s"]
        return out


def _files_under_root(args, kwargs) -> tuple[int, int]:
    """(file count, total bytes) under a ParquetMergeTable's root."""
    files = size = 0
    for dirpath, _, names in os.walk(args[0].root):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                continue  # removed while walking
    return files, size


def _inject_cc_stats(args, kwargs) -> dict:
    kwargs.setdefault("stats", {})
    return kwargs["stats"]


# -- event log ----------------------------------------------------------------


def fold_event_log(path: str) -> dict[str, list[JobStat]]:
    """Jobs by job group, each with its task totals, from a Spark event log
    (one JSON event per line). A stage's tasks count toward the first job
    that lists the stage; later jobs that list it skipped it."""
    job_group: dict[int, str | None] = {}
    job_stages: dict[int, list[int]] = {}
    job_times: dict[int, list[float]] = {}
    stage_tasks: dict[int, JobStat] = defaultdict(lambda: JobStat(0.0, 0.0))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                job_group[jid] = (e.get("Properties") or {}).get("spark.jobGroup.id")
                job_stages[jid] = e["Stage IDs"]
                job_times[jid] = [e["Submission Time"] / 1000.0, e["Submission Time"] / 1000.0]
            elif kind == "SparkListenerJobEnd":
                job_times[e["Job ID"]][1] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stage_tasks[e["Stage ID"]]
                info = e.get("Task Info") or {}
                m = e.get("Task Metrics") or {}
                st.tasks += 1
                st.retries += 1 if info.get("Attempt", 0) > 0 else 0
                st.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
                st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    owner: dict[int, int] = {}
    for jid in sorted(job_stages):
        for sid in job_stages[jid]:
            owner.setdefault(sid, jid)
    by_group: dict[str, list[JobStat]] = defaultdict(list)
    for jid, stages in job_stages.items():
        start, end = job_times[jid]
        job = JobStat(start, end)
        for sid in stages:
            if owner[sid] != jid or sid not in stage_tasks:
                continue
            st = stage_tasks[sid]
            job.tasks += st.tasks
            job.retries += st.retries
            job.executor_run_s += st.executor_run_s
            job.gc_s += st.gc_s
            job.shuffle_write_bytes += st.shuffle_write_bytes
            job.spill_bytes += st.spill_bytes
            job.input_bytes += st.input_bytes
        by_group[job_group[jid] or ""].append(job)
    return by_group


def _union_length(intervals) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _jobs_of(span: Span, spans: list[Span], jobs: dict[str, list[JobStat]]) -> list[JobStat]:
    """The jobs of a span and of every span under it."""
    children: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s.sid)
    out, todo = [], [span.sid]
    while todo:
        sid = todo.pop()
        out.extend(jobs.get(f"{GROUP_PREFIX}{sid}", ()))
        todo.extend(children[sid])
    return out


def span_metrics(spans: list[Span], jobs: dict[str, list[JobStat]]) -> dict[str, float]:
    """Per span name: calls, busy seconds, failures, and the totals of the
    jobs each call launched (its children's included)."""
    out: dict[str, float] = {}
    for name, measures in SPAN_MEASURES.items():
        mine = [s for s in spans if s.name == name]
        acc = dict.fromkeys(measures, 0.0)
        for s in mine:
            js = _jobs_of(s, spans, jobs)
            wall = s.end - s.start
            covered = _union_length((max(j.start, s.start), min(j.end, s.end)) for j in js)
            values = {
                "calls": 1, "s": wall, "jobs": len(js), "failed": int(s.failed),
                "driver_gap_s": wall - covered,
                **{
                    k: sum(getattr(j, k) for j in js)
                    for k in (
                        "tasks", "executor_run_s", "gc_s", "shuffle_write_bytes",
                        "spill_bytes", "input_bytes", "retries",
                    )
                },
            }
            for m in measures:
                acc[m] += values[m]
        out.update({f"{name}.{m}": v for m, v in acc.items()})
    return out
