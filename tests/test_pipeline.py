import hashlib

import pyspark.sql.functions as F

from cdc_tools_spark.lake.parquet_merge import ParquetMergeTable
from cdc_tools_spark.operators.compaction import compact_last_write_wins
from cdc_tools_spark.pipeline import ReplayConfig, full_load, replay
from cdc_tools_spark.sources.binlog import synthetic_binlog
from cdc_tools_spark.state.commit_log import CommitLog
from tests.conftest import EVENT_SCHEMA, pandas_replay, person_scenario

CFG = ReplayConfig(epoch_events=6, num_buckets=8, epoch_strategy="exact")


def _final_state(spark, root):
    t = ParquetMergeTable(spark, root)
    return {(r["repo"], r["path"]): r for r in t.read().collect()}


def _sha_set(state):
    return {
        (k, hashlib.sha256(str(v["content"]).encode()).hexdigest()) for k, v in state.items()
    }


def test_golden_person_scenario(spark, tmp_path):
    """FIXTURES.md F3: engine replay == independent pandas oracle, compared
    by per-row sha256(content) (the BASELINE.json parity invariant)."""
    events, oracle = person_scenario()
    log = spark.createDataFrame(events, schema=EVENT_SCHEMA)
    summary = replay(spark, log, str(tmp_path / "table"), str(tmp_path / "state"), config=CFG)

    got = _final_state(spark, str(tmp_path / "table"))
    assert set(got) == set(oracle)
    assert _sha_set({k: v for k, v in got.items()}) == _sha_set(oracle)
    assert ("people", "1") in got and "Jamie" in got[("people", "1")]["content"]
    assert not any(r == "addresses" for r, _ in got)
    assert summary.epochs_applied >= 2
    assert summary.redundant_events > 0  # compaction eliminated intermediates


def test_exactly_once_and_crash_replay(spark, tmp_path):
    events, oracle = person_scenario()
    log = spark.createDataFrame(events, schema=EVENT_SCHEMA)
    table_root, state_root = str(tmp_path / "t"), str(tmp_path / "s")

    # "crash" after 2 epochs
    s1 = replay(spark, log, table_root, state_root, config=CFG, max_epochs=2)
    assert s1.epochs_applied == 2
    # resume: must skip committed epochs and converge to the oracle
    s2 = replay(spark, log, table_root, state_root, config=CFG)
    assert s2.epochs_skipped == 2
    got = _final_state(spark, table_root)
    assert _sha_set(got) == _sha_set(oracle)

    # replay again from scratch: everything committed → zero work, same state
    s3 = replay(spark, log, table_root, state_root, config=CFG)
    assert s3.epochs_applied == 0 and s3.epochs_skipped == s1.epochs_applied + s2.epochs_applied
    assert _sha_set(_final_state(spark, table_root)) == _sha_set(oracle)

    # one immutable marker per epoch, monotone lsn ranges
    clog = CommitLog(state_root, "run-0")
    recs = clog.records()
    assert [r.epoch for r in recs] == sorted({r.epoch for r in recs})
    for a, b in zip(recs, recs[1:]):
        assert b.from_lsn == a.to_lsn + 1


def test_replay_idempotent_even_without_commit_marker(spark, tmp_path):
    """Crash between merge and marker: re-merging the epoch is harmless."""
    events, oracle = person_scenario()
    log = spark.createDataFrame(events, schema=EVENT_SCHEMA)
    table_root = str(tmp_path / "t")
    replay(spark, log, table_root, str(tmp_path / "s1"), config=CFG)
    state_after = _sha_set(_final_state(spark, table_root))
    # fresh state dir = no markers: every epoch re-merges onto the same table
    replay(spark, log, table_root, str(tmp_path / "s2"), config=CFG)
    assert _sha_set(_final_state(spark, table_root)) == state_after == _sha_set(oracle)


def test_full_load_then_tail(spark, tmp_path):
    snapshot = spark.createDataFrame(
        [("r1", "a", "c0", "py", "base-a"), ("r1", "b", "c0", "py", "base-b")],
        schema="repo string, path string, commit string, lang string, content string",
    )
    table_root, state_root = str(tmp_path / "t"), str(tmp_path / "s")
    full_load(spark, snapshot, table_root, state_root, execution_id="fl", config=CFG)
    st = _final_state(spark, table_root)
    assert st[("r1", "a")]["content"] == "base-a" and len(st) == 2

    tail = spark.createDataFrame(
        [
            {"lsn": 0, "seqval": 0, "change_type": 4, "repo": "r1", "path": "a",
             "commit": "c1", "lang": "py", "content": "v2"},
            {"lsn": 1, "seqval": 0, "change_type": 1, "repo": "r1", "path": "b",
             "commit": None, "lang": None, "content": None},
            {"lsn": 1, "seqval": 1, "change_type": 2, "repo": "r1", "path": "c",
             "commit": "c2", "lang": "py", "content": "new-c"},
        ],
        schema=EVENT_SCHEMA,
    )
    replay(spark, tail, table_root, state_root, execution_id="tail", config=CFG)
    st = _final_state(spark, table_root)
    assert {k: v["content"] for k, v in st.items()} == {
        ("r1", "a"): "v2",
        ("r1", "c"): "new-c",
    }


def test_per_epoch_schema_evolution(spark, tmp_path):
    """FIXTURES.md F5: epochs after the marker carry an added column; the
    table evolves before that epoch's merge and old rows read as null."""
    base = spark.createDataFrame(
        [{"lsn": 0, "seqval": 0, "change_type": 2, "repo": "r", "path": "a",
          "commit": "c0", "lang": "py", "content": "v1"}],
        schema=EVENT_SCHEMA,
    )
    evolved = spark.createDataFrame(
        [{"lsn": 10, "seqval": 0, "change_type": 2, "repo": "r", "path": "b",
          "commit": "c1", "lang": "py", "content": "v1", "size": 42}],
        schema=EVENT_SCHEMA + ", size long",
    )
    log = base.unionByName(evolved, allowMissingColumns=True)

    def provider(epoch):
        df = evolved if epoch.from_lsn >= 10 else base
        return df.where(epoch.predicate())

    replay(
        spark, log, str(tmp_path / "t"), str(tmp_path / "s"),
        config=ReplayConfig(epoch_events=1, num_buckets=4, epoch_strategy="exact"),
        epoch_provider=provider,
    )
    st = _final_state(spark, str(tmp_path / "t"))
    assert st[("r", "a")]["size"] is None
    assert st[("r", "b")]["size"] == 42


def test_skewed_replay_matches_declarative_oracle(spark, tmp_path):
    """FIXTURES.md F6: 50% of events on a handful of hot keys; multi-epoch
    engine replay equals a single declarative last-write-wins over the whole
    log, by sha256(content)."""
    log = synthetic_binlog(spark, 8_000, n_keys=400, hot_key_pct=50, n_hot_keys=3, seed=11)
    cfg = ReplayConfig(epoch_events=2_000, num_buckets=16, epoch_strategy="quantile")
    summary = replay(spark, log, str(tmp_path / "t"), str(tmp_path / "s"), config=cfg)
    assert summary.epochs_applied >= 3

    oracle = (
        compact_last_write_wins(log)
        .where(F.col("change_type") != 1)
        .select("repo", "path", F.sha2("content", 256).alias("h"))
    )
    got = (
        ParquetMergeTable(spark, str(tmp_path / "t"))
        .read()
        .select("repo", "path", F.sha2("content", 256).alias("h"))
    )
    assert got.count() == oracle.count()
    assert got.exceptAll(oracle).count() == 0

    # lineage metrics exist for every epoch and cover all touched buckets
    recs = CommitLog(str(tmp_path / "s"), "run-0").records()
    assert all(r.partition_lineage for r in recs)


def test_resume_with_shifted_epoch_plan_converges(spark, tmp_path):
    """Crash-resume under a *different* epoch plan (the approxQuantile-cuts-
    shift-with-partitioning scenario, ADVICE r1 high): run 1 applies two
    epochs of ~6 events and crashes; run 2 resumes with epoch_events=11 —
    completely different boundaries — and must still converge exactly,
    because resume derives from the committed LSN watermark, not epoch ids."""
    events, oracle = person_scenario()
    log = spark.createDataFrame(events, schema=EVENT_SCHEMA)
    table, state = str(tmp_path / "t"), str(tmp_path / "s")

    replay(spark, log, table, state, config=CFG, max_epochs=2)  # "crash"
    n_committed = len(CommitLog(state, "run-0").committed_epochs())
    assert n_committed == 2

    shifted = ReplayConfig(epoch_events=11, num_buckets=8, epoch_strategy="exact")
    summary = replay(spark, log, table, state, config=shifted)
    assert summary.epochs_skipped == n_committed
    # epochs renumbered after the committed ones — no id collision
    assert min(c.epoch for c in summary.commits) == n_committed

    got = _final_state(spark, table)
    assert set(got) == set(oracle)
    assert _sha_set(got) == _sha_set(oracle)


def test_full_load_and_tail_share_execution_id(spark, tmp_path):
    """Regression (ADVICE r1 #3): full_load + tail on the SAME execution_id
    used to silently skip the tail's epoch 0; watermark-based resume makes
    the shared namespace correct."""
    events, oracle = person_scenario()
    log = spark.createDataFrame(events, schema=EVENT_SCHEMA)
    snapshot = spark.createDataFrame(
        [{"repo": "people", "path": "999", "commit": "c0", "lang": "json",
          "content": '{"id":999,"name":"Base"}'}]
    )
    table, state = str(tmp_path / "t"), str(tmp_path / "s")
    full_load(spark, snapshot, table, state, config=CFG)       # default run-0
    summary = replay(spark, log, table, state, config=CFG)     # same run-0
    assert summary.epochs_applied > 0  # tail NOT silently skipped
    got = _final_state(spark, table)
    assert set(got) == set(oracle) | {("people", "999")}  # base row survives
    for k, v in oracle.items():
        assert got[k]["content"] == v["content"]


def test_merge_observes_raw_batch_count_in_same_job(spark, tmp_path):
    """raw_events rides the merge job's Observation — replay's
    skipped_events metric needs no second pass over the batch."""
    events, _ = person_scenario()
    log = spark.createDataFrame(events, schema=EVENT_SCHEMA)
    summary = replay(
        spark, log, str(tmp_path / "t"), str(tmp_path / "s"),
        config=ReplayConfig(epoch_events=10**6, num_buckets=4, epoch_strategy="exact"),
    )
    assert len(summary.commits) == 1
    c = summary.commits[0]
    assert c.applied_upserts + c.applied_deletes + c.skipped_events == len(events)


def test_merge_rejects_mismatched_key_cols(spark, tmp_path):
    """S8 negative test: the manifest is the key authority — merging with
    different key columns raises instead of silently mis-bucketing."""
    import pytest

    events, _ = person_scenario()
    log = spark.createDataFrame(events, schema=EVENT_SCHEMA)
    root = str(tmp_path / "t")
    replay(spark, log, root, str(tmp_path / "s"), config=CFG)
    wrong = ParquetMergeTable(spark, root, key_cols=("repo", "commit"))
    with pytest.raises(ValueError, match="key mismatch"):
        wrong.merge(log, 99)
    # key_cols=None loads the authoritative keys from the manifest
    assert ParquetMergeTable(spark, root).key_cols == ("repo", "path")


def test_lake_table_on_file_uri_through_hadoop_fs(spark, tmp_path):
    """The whole engine (manifest, markers, merge) on a file:// URI —
    exercised through the Hadoop FileSystem API path, proving the same
    code runs against hdfs:///s3a:// roots."""
    events, oracle = person_scenario()
    log = spark.createDataFrame(events, schema=EVENT_SCHEMA)
    table = f"file://{tmp_path}/t"
    state = f"file://{tmp_path}/s"
    summary = replay(spark, log, table, state, config=CFG)
    assert summary.epochs_applied >= 2
    got = _final_state(spark, table)
    assert set(got) == set(oracle)
    assert _sha_set(got) == _sha_set(oracle)
    # resume over the URI commit log is a full skip
    again = replay(spark, log, table, state, config=CFG)
    assert again.epochs_applied == 0 and again.epochs_skipped > 0


def test_transient_merge_failure_is_retried(spark, tmp_path):
    """E1 (§2.8): a transient merge failure is retried at the job level and
    the replay completes exactly-once (merge idempotence makes the retry
    safe even if the failure hit after the data write)."""
    events, oracle = person_scenario()
    log = spark.createDataFrame(events, schema=EVENT_SCHEMA)

    class Flaky:
        def __init__(self, inner):
            self.inner, self.key_cols, self.fails = inner, inner.key_cols, 0

        def exists(self):
            return self.inner.exists()

        def read(self):
            return self.inner.read()

        def merge(self, *a, **kw):
            if self.fails < 2:  # fail the first two attempts
                self.fails += 1
                raise RuntimeError("transient storage blip")
            return self.inner.merge(*a, **kw)

    from cdc_tools_spark.lake.parquet_merge import ParquetMergeTable as PMT
    from cdc_tools_spark.pipeline import _payload_schema

    root = str(tmp_path / "t")
    PMT.create(spark, root, _payload_schema(log), num_buckets=8)
    flaky = Flaky(PMT(spark, root))
    cfg = ReplayConfig(epoch_events=10**6, num_buckets=8, epoch_strategy="exact",
                       max_retries=2, retry_backoff_s=0.01)
    summary = replay(spark, log, root, str(tmp_path / "s"), config=cfg, table=flaky)
    assert flaky.fails == 2 and summary.epochs_applied == 1
    got = _final_state(spark, root)
    assert set(got) == set(oracle)

    # retries exhausted -> the error surfaces (no silent skip, no marker)
    import pytest

    flaky2 = Flaky(PMT(spark, root))
    flaky2.fails = -10**9  # effectively always failing
    with pytest.raises(RuntimeError, match="transient"):
        replay(spark, log, root, str(tmp_path / "s2"), config=cfg, table=flaky2)
    assert CommitLog(str(tmp_path / "s2"), "run-0").committed_epochs() == []


def test_multi_table_replay(spark, tmp_path):
    """C4: one changelog carrying table_name fans out into isolated
    per-table lake tables + commit-log namespaces."""
    from cdc_tools_spark.pipeline import replay_tables

    events, oracle = person_scenario()
    half = len(events) // 2
    rows = [{**e, "table_name": "t_a"} for e in events] + [
        {**e, "table_name": "t_b"} for e in events[:half]
    ]
    log = spark.createDataFrame(rows, schema=EVENT_SCHEMA + ", table_name string")
    out = replay_tables(
        spark, log, str(tmp_path / "tables"), str(tmp_path / "s"),
        config=ReplayConfig(epoch_events=6, num_buckets=8, epoch_strategy="exact"),
    )
    assert set(out) == {"t_a", "t_b"}
    got_a = _final_state(spark, str(tmp_path / "tables" / "t_a"))
    assert set(got_a) == set(oracle)  # full replay matches the oracle
    got_b = _final_state(spark, str(tmp_path / "tables" / "t_b"))
    assert set(got_b) == set(pandas_replay(events[:half]))
    # commit logs are namespaced per table under one execution id
    assert CommitLog(str(tmp_path / "s"), "run-0", "t_a").committed_epochs()
    assert CommitLog(str(tmp_path / "s"), "run-0", "t_b").committed_epochs()


def test_deterministic_merge_failure_is_not_retried(spark, tmp_path):
    """A guaranteed-fatal error (ValueError — key mismatch, unsupported
    schema promotion) must surface immediately instead of burning
    max_retries full merge jobs with backoff (ADVICE r2)."""
    import pytest

    events, _ = person_scenario()
    log = spark.createDataFrame(events, schema=EVENT_SCHEMA)

    class Fatal:
        def __init__(self, inner):
            self.inner, self.key_cols, self.calls = inner, inner.key_cols, 0

        def exists(self):
            return self.inner.exists()

        def read(self):
            return self.inner.read()

        def merge(self, *a, **kw):
            self.calls += 1
            raise ValueError("key mismatch: deterministic, never retryable")

    from cdc_tools_spark.lake.parquet_merge import ParquetMergeTable as PMT
    from cdc_tools_spark.pipeline import _payload_schema

    root = str(tmp_path / "t")
    PMT.create(spark, root, _payload_schema(log), num_buckets=8)
    fatal = Fatal(PMT(spark, root))
    # huge backoff: if the retry path were taken, this test would hang
    cfg = ReplayConfig(epoch_events=10**6, num_buckets=8, epoch_strategy="exact",
                       max_retries=3, retry_backoff_s=60.0)
    with pytest.raises(ValueError, match="key mismatch"):
        replay(spark, log, root, str(tmp_path / "s"), config=cfg, table=fatal)
    assert fatal.calls == 1


def test_atomic_group_replay_all_or_nothing_visibility(spark, tmp_path, monkeypatch):
    """VERDICT r5 missing #3: replay_tables_atomic makes one transaction's
    tables visible atomically to snapshot readers. A crash BETWEEN table
    A's and table B's merge of the same epoch must leave the group marker
    unwritten, so group_snapshot keeps serving epoch N-1's versions for
    BOTH tables; resume then converges and restores agreement in one
    marker."""
    import pytest

    from cdc_tools_spark import pipeline as pl
    from cdc_tools_spark.pipeline import (
        group_snapshot,
        read_tables_snapshot,
        replay_tables_atomic,
    )

    events, oracle = person_scenario()
    rows = [{**e, "table_name": "t_a"} for e in events] + [
        {**e, "table_name": "t_b"} for e in events
    ]
    log = spark.createDataFrame(rows, schema=EVENT_SCHEMA + ", table_name string")
    cfg = ReplayConfig(epoch_events=6, num_buckets=8, epoch_strategy="exact")
    tables, state = str(tmp_path / "tables"), str(tmp_path / "s")

    # epoch 0 commits cleanly for both tables
    replay_tables_atomic(spark, log, tables, state, config=cfg, max_epochs=1)
    snap0 = group_snapshot(state, "run-0")
    assert snap0 is not None and snap0.epoch == 0
    assert set(snap0.versions) == {"t_a", "t_b"}
    view0 = read_tables_snapshot(spark, tables, snap0)
    rows_a0 = {(r["repo"], r["path"]) for r in view0["t_a"].collect()}
    assert rows_a0 == {(r["repo"], r["path"]) for r in view0["t_b"].collect()}

    # crash mid-epoch-1: t_a merges + commits, then t_b's merge dies
    real_merge = pl.ParquetMergeTable.merge

    def dying_merge(self, batch, epoch_id, *a, **kw):
        if epoch_id >= 1 and self.root.endswith("t_b"):
            raise ValueError("simulated crash before t_b's merge")
        return real_merge(self, batch, epoch_id, *a, **kw)

    monkeypatch.setattr(pl.ParquetMergeTable, "merge", dying_merge)
    with pytest.raises(ValueError, match="simulated crash"):
        replay_tables_atomic(spark, log, tables, state, config=cfg)
    monkeypatch.setattr(pl.ParquetMergeTable, "merge", real_merge)

    # t_a is ahead in its own commit log, but the GROUP view is unchanged:
    # snapshot readers see epoch 0's versions for BOTH tables
    assert CommitLog(state, "run-0", "t_a").last_committed().epoch >= 1
    snap_mid = group_snapshot(state, "run-0")
    assert snap_mid.epoch == 0 and snap_mid.versions == snap0.versions
    view_mid = read_tables_snapshot(spark, tables, snap_mid)
    assert {(r["repo"], r["path"]) for r in view_mid["t_a"].collect()} == rows_a0

    # resume converges; the next marker restores cross-table agreement
    # (its to_lsn covers t_a's already-applied range) and the final
    # snapshot matches the oracle for both tables
    replay_tables_atomic(spark, log, tables, state, config=cfg)
    snap_end = group_snapshot(state, "run-0")
    assert snap_end.epoch > 0
    assert snap_end.to_lsn >= CommitLog(state, "run-0", "t_a").last_committed().to_lsn
    view_end = read_tables_snapshot(spark, tables, snap_end)
    for t in ("t_a", "t_b"):
        got = {(r["repo"], r["path"]): r for r in view_end[t].collect()}
        assert set(got) == set(oracle)
        assert _sha_set(got) == _sha_set(oracle)


def _ordered_log(spark, n_events, n_tables=1):
    """A synthetic log (4-event transactions), its transactions dealt
    round-robin over ``n_tables`` tables, so every epoch holds events of
    every table."""
    log = synthetic_binlog(spark, n_events, n_keys=200, seed=11, num_partitions=2)
    if n_tables > 1:
        log = log.withColumn(
            "table_name", F.concat(F.lit("t"), F.pmod("lsn", F.lit(n_tables)).cast("string"))
        )
    return log


def test_atomic_mor_replay_runs_the_governor_and_counts_commits(spark, tmp_path):
    """replay_tables_atomic goes through the same apply step as replay: a
    MOR run over 20 epochs keeps every bucket's delta chain within
    mor_max_deltas, and each table's summary has one commit record per
    applied epoch, with redundant_events the sum of their skipped_events."""
    from cdc_tools_spark.lake.parquet_merge import _versions_of
    from cdc_tools_spark.pipeline import replay_tables_atomic

    log = _ordered_log(spark, 2_000, n_tables=2)
    cfg = ReplayConfig(epoch_events=100, num_buckets=4, epoch_strategy="exact",
                       merge_mode="mor", mor_max_deltas=2)
    tables, state = str(tmp_path / "tables"), str(tmp_path / "s")
    out = replay_tables_atomic(spark, log, tables, state, config=cfg)
    assert set(out) == {"t0", "t1"}
    for t, summary in out.items():
        assert summary.epochs_applied == 20
        assert len(summary.commits) == summary.epochs_applied
        assert [r.epoch for r in summary.commits] == list(range(20))
        assert summary.redundant_events == sum(r.skipped_events for r in summary.commits)
        assert summary.redundant_events > 0
        table = ParquetMergeTable(spark, str(tmp_path / "tables" / t))
        chains = [len(_versions_of(v)) for v in table._load()["buckets"].values()]
        assert max(chains) <= cfg.mor_max_deltas
        want = compact_last_write_wins(
            log.where(F.col("table_name") == t).drop("table_name")
        ).where(F.col("change_type") != 1)
        cols = ["repo", "path", "content"]
        assert table.read().select(cols).exceptAll(want.select(cols)).count() == 0
        assert want.select(cols).exceptAll(table.read().select(cols)).count() == 0


def test_atomic_resume_keeps_a_rolled_epoch_marker(spark, tmp_path, monkeypatch):
    """A crash between two tables' merges of epoch 1, just after table t0's
    epoch-1 marker was rolled into a chunk: the resume replans epoch 1 with
    wider bounds, re-merges t0's slice, and must not write t0 a second,
    different epoch-1 marker. t0's resumed summary counts that epoch as
    skipped, so its commits match the durable markers."""
    import functools
    import json
    import os
    from dataclasses import asdict, replace

    import pytest

    from cdc_tools_spark import pipeline as pl
    from cdc_tools_spark.pipeline import replay_tables_atomic

    monkeypatch.setattr(pl, "CommitLog", functools.partial(CommitLog, roll_every=2))
    log = _ordered_log(spark, 400, n_tables=2)
    cfg = ReplayConfig(epoch_events=100, num_buckets=4, epoch_strategy="exact")
    tables, state = str(tmp_path / "tables"), str(tmp_path / "s")
    real_merge = pl.ParquetMergeTable.merge

    def dying_merge(self, batch, epoch_id, *a, **kw):
        if epoch_id >= 1 and self.root.endswith("t1"):
            raise OSError("simulated crash before t1's merge")
        return real_merge(self, batch, epoch_id, *a, **kw)

    monkeypatch.setattr(pl.ParquetMergeTable, "merge", dying_merge)
    with pytest.raises(OSError, match="simulated crash"):
        replay_tables_atomic(spark, log, tables, state, config=replace(cfg, max_retries=0))
    monkeypatch.setattr(pl.ParquetMergeTable, "merge", real_merge)

    t0_log = CommitLog(state, "run-0", "t0")
    loose, chunks = t0_log._listing()
    assert loose == [] and chunks == ["chunk-0000000000-0000000001.json"]
    (rolled,) = [r for r in t0_log.records() if r.epoch == 1]

    out = replay_tables_atomic(spark, log, tables, state, config=cfg)
    assert 1 not in [r.epoch for r in out["t0"].commits]
    assert out["t0"].epochs_skipped == 1
    assert 1 in [r.epoch for r in out["t1"].commits]
    # every stored copy of t0's epoch-1 marker, loose or chunked, is the
    # one written before the crash
    copies = []
    for name in sorted(os.listdir(t0_log.dir)):
        with open(os.path.join(t0_log.dir, name)) as f:
            body = json.load(f)
        copies += [r for r in body.get("records", [body]) if r["epoch"] == 1]
    assert copies and all(r == asdict(rolled) for r in copies)


def test_replay_commits_each_epoch_before_the_governor_folds(spark, tmp_path, apply_order):
    """Apply order per epoch: merge, then the commit marker, then the MOR
    governor. A reader that waits for the marker must never wait for a
    fold."""
    log = _ordered_log(spark, 600)
    cfg = ReplayConfig(epoch_events=100, num_buckets=4, epoch_strategy="exact",
                       merge_mode="mor", mor_max_deltas=1)
    summary = replay(spark, log, str(tmp_path / "t"), str(tmp_path / "s"), config=cfg)
    assert summary.epochs_applied == 6
    assert apply_order == ["merge", "commit", "compact_table"] * 6
