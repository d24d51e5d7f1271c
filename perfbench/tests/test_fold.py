"""Folding a Spark event log into per-span metrics.

``fixtures/eventlog.jsonl`` is a trimmed event log recorded from a traced
local[2] session (job, stage and task events only, task metrics cut to the
fields the fold reads); ``fixtures/spans.json`` holds that session's spans:

* span 0 ``lake.merge``: an aggregation (a shuffle-map job and a result
  job), then span 1, then a 0.2 s sleep on the driver;
* span 1 ``state.commit`` (child of 0): a parquet write;
* span 2 ``lake.lookup``: raised after 0.05 s without launching a job;
* one ``count`` job outside every span.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.spans import (
    GROUP_PREFIX,
    Span,
    _union_length,
    fold_event_log,
    span_metrics,
)

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
LOG = os.path.join(FIXTURES, "eventlog.jsonl")


def _spans() -> list[Span]:
    with open(os.path.join(FIXTURES, "spans.json")) as f:
        return [Span(**s) for s in json.load(f)]


def _events(kind: str) -> list[dict]:
    with open(LOG) as f:
        return [e for e in map(json.loads, f) if e["Event"] == kind]


def test_fold_groups_jobs_by_span():
    jobs = fold_event_log(LOG)
    starts = _events("SparkListenerJobStart")
    by_group: dict[str, int] = {}
    for e in starts:
        g = e["Properties"].get("spark.jobGroup.id") or ""
        by_group[g] = by_group.get(g, 0) + 1
    assert {g: len(js) for g, js in jobs.items()} == by_group
    assert set(by_group) == {f"{GROUP_PREFIX}0", f"{GROUP_PREFIX}1", ""}
    assert len(jobs[f"{GROUP_PREFIX}0"]) >= 2  # map side + result side


def test_fold_counts_every_task_once():
    jobs = fold_event_log(LOG)
    tasks = _events("SparkListenerTaskEnd")
    assert sum(j.tasks for js in jobs.values() for j in js) == len(tasks)
    run_s = sum(t["Task Metrics"]["Executor Run Time"] for t in tasks) / 1000.0
    assert sum(j.executor_run_s for js in jobs.values() for j in js) == pytest.approx(run_s)
    merge_stages = {
        sid
        for e in _events("SparkListenerJobStart")
        if e["Properties"].get("spark.jobGroup.id") == f"{GROUP_PREFIX}0"
        for sid in e["Stage IDs"]
    }
    shuffled = sum(
        t["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        for t in tasks
        if t["Stage ID"] in merge_stages
    )
    assert shuffled > 0
    assert sum(j.shuffle_write_bytes for j in jobs[f"{GROUP_PREFIX}0"]) == shuffled


def test_span_metrics_nest_and_measure_the_driver_gap():
    spans = _spans()
    jobs = fold_event_log(LOG)
    m = span_metrics(spans, jobs)
    merge, commit, lookup = spans
    own = jobs[f"{GROUP_PREFIX}0"]
    child = jobs[f"{GROUP_PREFIX}1"]
    assert m["lake.merge.calls"] == 1
    assert m["lake.merge.jobs"] == len(own) + len(child)  # includes its child
    assert m["state.commit.calls"] == 1
    assert m["lake.merge.s"] == pytest.approx(merge.end - merge.start)
    covered = _union_length(
        (max(j.start, merge.start), min(j.end, merge.end)) for j in own + child
    )
    assert m["lake.merge.driver_gap_s"] == pytest.approx(merge.end - merge.start - covered)
    assert m["lake.merge.driver_gap_s"] >= 0.2  # the sleep after the jobs
    assert m["lake.lookup.failed"] == 1
    assert m["lake.lookup.jobs"] == 0
    assert m["lake.lookup.driver_gap_s"] == pytest.approx(lookup.end - lookup.start)
    assert m["lake.merge.failed"] == 0


def test_skipped_stage_counts_for_its_first_job(tmp_path):
    """Two jobs list stage 0; its tasks ran once, under job 0. A retried
    task attempt counts as a retry."""
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "perfbench:0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Attempt": 0},
         "Task Metrics": {"Executor Run Time": 100, "JVM GC Time": 10,
                          "Disk Bytes Spilled": 5,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                          "Input Metrics": {"Bytes Read": 11}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Attempt": 1},
         "Task Metrics": {"Executor Run Time": 50}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "perfbench:1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Attempt": 0},
         "Task Metrics": {"Executor Run Time": 30}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
    ]
    path = tmp_path / "log.jsonl"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    jobs = fold_event_log(str(path))
    (j0,) = jobs["perfbench:0"]
    (j1,) = jobs["perfbench:1"]
    assert (j0.tasks, j0.retries, j0.executor_run_s) == (2, 1, pytest.approx(0.15))
    assert (j0.gc_s, j0.spill_bytes, j0.shuffle_write_bytes, j0.input_bytes) == (
        pytest.approx(0.01), 5, 7, 11,
    )
    assert (j1.tasks, j1.executor_run_s) == (1, pytest.approx(0.03))
    assert (j0.start, j0.end, j1.start, j1.end) == (1.0, 1.5, 1.6, 2.0)
    spans = [Span(0, "lake.merge", None, 0.9, 2.1)]
    m = span_metrics(spans, jobs)
    # span 1 is not a child of span 0 here, so only job 0 counts
    assert m["lake.merge.jobs"] == 1
    assert m["lake.merge.driver_gap_s"] == pytest.approx(1.2 - 0.5)


def test_union_length_merges_overlaps():
    assert _union_length([]) == 0.0
    assert _union_length([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == pytest.approx(3.0)


def test_tracer_labels_nested_spans_and_restores_functions(spark):
    import cdc_tools_spark.pipeline as pipeline
    from cdc_tools_spark.lake.parquet_merge import ParquetMergeTable

    from perfbench.spans import Tracer

    tracer = Tracer(spark)
    replay, merge = pipeline.replay, ParquetMergeTable.merge
    tracer.install()
    assert pipeline.replay is not replay and ParquetMergeTable.merge is not merge
    tracer.uninstall()
    assert pipeline.replay is replay and ParquetMergeTable.merge is merge

    group = lambda: spark.sparkContext.getLocalProperty("spark.jobGroup.id")  # noqa: E731
    with tracer.span("outer") as outer:
        assert group() == f"{GROUP_PREFIX}{outer.sid}"
        with tracer.span("inner") as inner:
            assert group() == f"{GROUP_PREFIX}{inner.sid}"
        assert group() == f"{GROUP_PREFIX}{outer.sid}"
    assert group() is None
    with pytest.raises(ValueError):
        with tracer.span("raises"):
            raise ValueError("on purpose")
    assert [(s.name, s.parent, s.failed) for s in tracer.spans] == [
        ("outer", None, False), ("inner", outer.sid, False), ("raises", None, True),
    ]
    assert all(s.end >= s.start > 0 for s in tracer.spans)
