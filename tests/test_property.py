"""Property-based correctness: random changelogs through the full engine
(both merge modes, shuffled epoch order for MOR) must always match the
independent pandas replay oracle. Hypothesis drives the event generator;
examples are few (Spark jobs are slow) but each exercises arbitrary
interleavings of insert/update/delete/update-before across keys."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cdc_tools_spark.lake.parquet_merge import ParquetMergeTable
from cdc_tools_spark.pipeline import ReplayConfig, replay
from tests.conftest import EVENT_SCHEMA, pandas_replay

# one event: (key_id, change_type, content_token)
_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),        # 8 keys -> collisions
        st.sampled_from([1, 2, 3, 4]),                # DELETE/INSERT/UB/UA
        st.integers(min_value=0, max_value=999),
    ),
    min_size=1,
    max_size=60,
)


def _to_rows(raw):
    rows = []
    for i, (kid, ct, tok) in enumerate(raw):
        rows.append(
            {
                "lsn": i // 3,  # ~3 events per transaction
                "seqval": i % 3,
                "change_type": ct,
                "repo": f"r{kid % 3}",
                "path": f"p{kid}",
                "commit": f"c{i}",
                "lang": "py",
                "content": None if ct == 1 else f"v{tok}",
            }
        )
    return rows


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw=_events)
def test_replay_matches_pandas_oracle_for_random_logs(spark, tmp_path_factory, raw):
    rows = _to_rows(raw)
    oracle = pandas_replay(rows)
    log = spark.createDataFrame(rows, schema=EVENT_SCHEMA)

    for mode in ("cow", "mor"):
        work = tmp_path_factory.mktemp(f"prop_{mode}")
        cfg = ReplayConfig(
            epoch_events=7, num_buckets=4, epoch_strategy="exact", merge_mode=mode,
            collect_metrics=False,
        )
        replay(spark, log, str(work / "t"), str(work / "s"), config=cfg)
        got = {
            (r["repo"], r["path"]): r["content"]
            for r in ParquetMergeTable(spark, str(work / "t")).read().collect()
        }
        want = {k: v["content"] for k, v in oracle.items()}
        assert got == want, f"mode={mode}"


# -- schema-evolution laws (pure Python, no Spark jobs) ----------------------

from pyspark.sql import types as T  # noqa: E402

from cdc_tools_spark.lake.parquet_merge import evolve_schema  # noqa: E402

_types = st.sampled_from(
    [
        T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(),
        T.FloatType(), T.DoubleType(),
        T.DecimalType(10, 2), T.DecimalType(14, 4), T.DecimalType(9, 0),
    ]
)
_schemas = st.dictionaries(
    st.sampled_from(["a", "b", "c", "d"]), _types, min_size=1, max_size=4
).map(
    lambda d: T.StructType([T.StructField(k, v, True) for k, v in sorted(d.items())])
)


@settings(max_examples=200, deadline=None)
@given(cur=_schemas, inc=_schemas)
def test_evolve_schema_laws(cur, inc):
    """Evolution never narrows, is idempotent, and keeps every column."""
    try:
        out, changed = evolve_schema(cur, inc)
    except ValueError:
        return  # unsupported promotion (e.g. decimal vs double) — explicit
    names = {f.name for f in out.fields}
    assert names == {f.name for f in cur.fields} | {f.name for f in inc.fields}
    # idempotent: evolving again with the same incoming changes nothing
    out2, changed2 = evolve_schema(out, inc)
    assert out2 == out and not changed2
    # absorbing: current columns are never narrowed
    for f in cur.fields:
        g = out[f.name].dataType
        again, ch = evolve_schema(
            T.StructType([T.StructField(f.name, g, True)]),
            T.StructType([T.StructField(f.name, f.dataType, True)]),
        )
        assert not ch, f"{f.dataType} -> {g} then back reports widening"


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw=_events, order=st.randoms())
def test_mor_converges_under_any_epoch_order(spark, tmp_path_factory, raw, order):
    """MOR merges applied in a RANDOM epoch order always converge to the
    in-order oracle (the out-of-order micro-batch guarantee, fuzzed)."""
    from cdc_tools_spark.lake.parquet_merge import ParquetMergeTable as PMT

    rows = _to_rows(raw)
    oracle = pandas_replay(rows)
    log = spark.createDataFrame(rows, schema=EVENT_SCHEMA)
    work = tmp_path_factory.mktemp("prop_ooo")

    from pyspark.sql import types as T2

    payload = T2.StructType(
        [f for f in log.schema.fields if f.name not in ("lsn", "seqval", "change_type")]
    )
    PMT.create(spark, str(work / "t"), payload, num_buckets=4,
               order_cols=("lsn", "seqval"), merge_mode="mor")
    table = PMT(spark, str(work / "t"))

    max_lsn = max(r["lsn"] for r in rows)
    slices = [(lo, lo + 2) for lo in range(0, max_lsn + 1, 3)]
    order.shuffle(slices)
    import pyspark.sql.functions as F2

    for eid, (lo, hi) in enumerate(slices):
        table.merge(log.where((F2.col("lsn") >= lo) & (F2.col("lsn") <= hi)), eid,
                    collect_metrics=False)
    got = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
    assert got == {k: v["content"] for k, v in oracle.items()}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw=_events, order=st.randoms(), mode=st.sampled_from(["cow", "mor"]))
def test_merges_interleaved_with_incremental_rescale_match_oracle(
    spark, tmp_path_factory, raw, order, mode
):
    """Fuzz the incremental-rescale invariant: begin_rescale at a random
    epoch, random bounded rescale_steps between merges — the table must
    read correctly (vs the pandas prefix oracle) at EVERY intermediate
    state, and converge to the full oracle once the split completes."""
    from cdc_tools_spark.lake.parquet_merge import ParquetMergeTable as PMT

    rows = _to_rows(raw)
    log = spark.createDataFrame(rows, schema=EVENT_SCHEMA)
    work = tmp_path_factory.mktemp(f"prop_rescale_{mode}")

    from pyspark.sql import types as T2

    payload = T2.StructType(
        [f for f in log.schema.fields if f.name not in ("lsn", "seqval", "change_type")]
    )
    PMT.create(
        spark, str(work / "t"), payload, num_buckets=2,
        order_cols=("lsn", "seqval") if mode == "mor" else None, merge_mode=mode,
    )
    table = PMT(spark, str(work / "t"))

    import pyspark.sql.functions as F2

    max_lsn = max(r["lsn"] for r in rows)
    slices = [(lo, min(lo + 2, max_lsn)) for lo in range(0, max_lsn + 1, 3)]
    begin_at = order.randint(0, len(slices) - 1)

    for eid, (lo, hi) in enumerate(slices):
        if eid == begin_at:
            table.begin_rescale(8)
        table.merge(
            log.where((F2.col("lsn") >= lo) & (F2.col("lsn") <= hi)), eid,
            collect_metrics=False,
        )
        if order.random() < 0.5:
            table.rescale_step(max_groups=1)
        if mode == "mor" and order.random() < 0.3:
            table.compact_table(max_deltas=1)
        # reads must be correct at every intermediate split state
        prefix = pandas_replay([r for r in rows if r["lsn"] <= hi])
        got = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
        assert got == {k: v["content"] for k, v in prefix.items()}, (
            f"mode={mode} epoch={eid} begin_at={begin_at}"
        )

    while table.rescale_step(max_groups=8):
        pass
    table.rescale_step()
    got = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
    oracle = pandas_replay(rows)
    assert got == {k: v["content"] for k, v in oracle.items()}


# ---------------------------------------------------------------------------
# Maintenance-interleaving schedules (VERDICT r3 #7): random interleavings of
# merge / compact_table / begin_rescale / rescale_step / expire_tombstones /
# vacuum, with injected CAS conflicts, must keep reads equal to an
# independent model dict after EVERY step and never lose a committed version.
# ---------------------------------------------------------------------------

from pyspark.sql import types as _T

_MAINT_PAYLOAD = _T.StructType(
    [
        _T.StructField("repo", _T.StringType(), True),
        _T.StructField("path", _T.StringType(), True),
        _T.StructField("content", _T.StringType(), True),
    ]
)

_MAINT_SCHEMA = (
    "lsn long, seqval long, change_type int, repo string, path string, content string"
)

# one op: ("merge", [(key_id, is_delete), ...]) | ("conflict", batch) |
#         ("compact",) | ("rescale_begin",) | ("rescale_step",) |
#         ("expire",) | ("vacuum",)
_maint_op = st.one_of(
    st.tuples(
        st.just("merge"),
        st.lists(
            st.tuples(st.integers(min_value=0, max_value=9), st.booleans()),
            min_size=1, max_size=5,
        ),
    ),
    st.tuples(st.just("conflict")),
    st.tuples(st.just("compact")),
    st.tuples(st.just("rescale_begin")),
    st.tuples(st.just("rescale_step")),
    st.tuples(st.just("expire")),
    st.tuples(st.just("vacuum")),
)

_maint_schedule = st.tuples(
    st.sampled_from(["cow", "mor"]),
    st.lists(_maint_op, min_size=3, max_size=8),
)

import os as _os

_MAINT_EXAMPLES = int(_os.environ.get("CDC_PROP_SCHEDULES", "30"))


@settings(
    max_examples=_MAINT_EXAMPLES,
    deadline=None,
    derandomize=True,  # reproducible schedules; CDC_PROP_SCHEDULES=200 is the deep run
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(sched=_maint_schedule)
def test_maintenance_interleavings_preserve_reads_and_versions(
    spark, tmp_path_factory, sched
):
    """Every schedule: reads match the model after every op; version and
    commit_seq are monotone; an injected stale-writer CAS conflict raises
    cleanly and mutates nothing visible (no lost update)."""
    from cdc_tools_spark.lake.fsio import CommitConflictError

    mode, ops = sched
    work = tmp_path_factory.mktemp("maint")
    t = ParquetMergeTable.create(
        spark, str(work / "t"), _MAINT_PAYLOAD, num_buckets=4,
        order_cols=("lsn", "seqval"), merge_mode=mode, checkpoint_interval=3,
        retained_snapshots=4,
    )
    model: dict[str, str] = {}
    lsn = 0
    last_version, last_seq = 0, t._load()["commit_seq"]

    def batch(events, lsn):
        return spark.createDataFrame(
            [
                {"lsn": lsn, "seqval": i, "change_type": 1 if is_del else 2,
                 "repo": "r", "path": f"p{kid}",
                 "content": None if is_del else f"v{lsn}-{kid}"}
                for i, (kid, is_del) in enumerate(events)
            ],
            schema=_MAINT_SCHEMA,
        )

    for op in ops:
        kind = op[0]
        if kind == "merge":
            lsn += 1
            # last event per key wins within the batch (seqval order)
            t.merge(batch(op[1], lsn), epoch_id=lsn, collect_metrics=False)
            for kid, is_del in op[1]:
                if is_del:
                    model.pop(f"p{kid}", None)
                else:
                    model[f"p{kid}"] = f"v{lsn}-{kid}"
        elif kind == "conflict":
            # stale writer: loads, then loses the CAS to a fresh commit
            stale = t._load()
            lsn += 1
            t.merge(batch([(0, False)], lsn), epoch_id=lsn, collect_metrics=False)
            model["p0"] = f"v{lsn}-0"
            stale["version"] = stale["version"] + 1
            try:
                t._store(stale)
                raise AssertionError("stale store must CAS-conflict")
            except CommitConflictError:
                pass
        elif kind == "compact":
            t.compact_table(max_deltas=1, epoch_id=-1)
        elif kind == "rescale_begin":
            m = t._load()
            if not m.get("rescale") and m["num_buckets"] <= 8:
                t.begin_rescale(m["num_buckets"] * 2)
        elif kind == "rescale_step":
            t.rescale_step(max_groups=2)
        elif kind == "expire":
            t.expire_tombstones(below_lsn=max(0, lsn - 1), epoch_id=-2)
        elif kind == "vacuum":
            t.vacuum(grace_seconds=0)

        got = {r["path"]: r["content"] for r in t.read().collect()}
        assert got == model, f"after {kind}: {got} != {model}"
        m = t._load()
        assert m["version"] >= last_version and m["commit_seq"] >= last_seq
        last_version, last_seq = m["version"], m["commit_seq"]
