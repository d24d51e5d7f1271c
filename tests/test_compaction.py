import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from cdc_tools_spark.operators.compaction import (
    compact_last_write_wins,
    split_upserts_deletes,
)
from cdc_tools_spark.operators.epochs import plan_epochs
from cdc_tools_spark.operators.transactions import group_transactions
from cdc_tools_spark.sources.binlog import UPDATE_BEFORE, synthetic_binlog
from tests.conftest import EVENT_SCHEMA, person_scenario


@pytest.fixture(scope="module")
def person_df(spark):
    events, _ = person_scenario()
    return spark.createDataFrame(events, schema=EVENT_SCHEMA)


@pytest.mark.parametrize("strategy", ["max_by"])
def test_compaction_last_write_wins(spark, person_df, strategy):
    out = compact_last_write_wins(person_df).collect()
    by_key = {(r["repo"], r["path"]): r for r in out}
    assert len(out) == len(by_key), "more than one row per key"
    # id 1: deleted at lsn 3, then UPDATE_AFTER at lsn 4 wins
    assert by_key[("people", "1")]["change_type"] == 4
    assert "Jamie" in by_key[("people", "1")]["content"]
    # ids 2-4: last change is the DELETE
    for i in "234":
        assert by_key[("people", i)]["change_type"] == 1
    # addresses: every key's last change is DELETE
    for i in range(1, 9):
        assert by_key[("addresses", str(i))]["change_type"] == 1


def test_update_before_never_wins(spark):
    rows = [
        {"lsn": 1, "seqval": 1, "change_type": 2, "repo": "r", "path": "p",
         "commit": "a", "lang": "x", "content": "v1"},
        {"lsn": 2, "seqval": 1, "change_type": 3, "repo": "r", "path": "p",
         "commit": "b", "lang": "x", "content": "before-image"},
    ]
    df = spark.createDataFrame(rows, schema=EVENT_SCHEMA)
    out = compact_last_write_wins(df).collect()
    assert len(out) == 1 and out[0]["content"] == "v1"


def test_compaction_matches_python_oracle(spark):
    """``max_by`` against a plain-Python oracle on a skewed log: the last
    ``(lsn, seqval)`` change per key wins, UPDATE_BEFORE never does."""
    log = synthetic_binlog(spark, 5_000, n_keys=300, hot_key_pct=40, seed=7)
    want: dict = {}
    for r in log.collect():
        if r["change_type"] == UPDATE_BEFORE:
            continue
        key = (r["repo"], r["path"])
        if key not in want or (r["lsn"], r["seqval"]) > (
            want[key]["lsn"], want[key]["seqval"]
        ):
            want[key] = r.asDict()
    got = {(r["repo"], r["path"]): r.asDict() for r in compact_last_write_wins(log).collect()}
    assert got == want


def _window_last(df, key_cols, order_cols, salt_buckets=0):
    """Reference plan: ``row_number() OVER (PARTITION BY key ORDER BY lsn
    DESC, seqval DESC) = 1``, the reference's own formulation. With
    ``salt_buckets`` it ranks twice: first per ``(key, salt)``, then the
    survivors per key."""
    by_order = [F.col(c).desc() for c in order_cols]
    if salt_buckets:
        salt = F.pmod(F.xxhash64(*order_cols), F.lit(salt_buckets))
        df = _window_last(df.withColumn("_salt", salt), [*key_cols, "_salt"], order_cols)
        df = df.drop("_salt")
    w = Window.partitionBy(*key_cols).orderBy(*by_order)
    return df.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")


@pytest.mark.parametrize("other", ["window", "salted_window"])
def test_compaction_strategies_agree(spark, other):
    """The ``max_by`` plan agrees with window-ranking plans of the same
    semantics, plain and salted, on a log with a 40% hot key."""
    log = synthetic_binlog(spark, 5_000, n_keys=300, hot_key_pct=40, seed=7)
    a = compact_last_write_wins(log)
    admitted = log.where(F.col("change_type") != UPDATE_BEFORE)
    salt_buckets = 64 if other == "salted_window" else 0
    b = _window_last(admitted, ["repo", "path"], ["lsn", "seqval"], salt_buckets)
    b = b.select(*log.columns)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_split_upserts_deletes(spark, person_df):
    compacted = compact_last_write_wins(person_df)
    ups, dels = split_upserts_deletes(compacted)
    assert ups.where(F.col("change_type") == 1).count() == 0
    assert dels.where(F.col("change_type") != 1).count() == 0
    assert ups.count() + dels.count() == compacted.count()


@pytest.mark.parametrize("strategy", ["quantile", "exact"])
def test_epoch_plan_covers_without_splitting(spark, strategy):
    log = synthetic_binlog(spark, 4_000, n_keys=200, txn_size=5, seed=3)
    epochs = plan_epochs(log, target_events_per_epoch=500, strategy=strategy)
    assert len(epochs) >= 4
    # contiguous, ordered, non-overlapping; union covers the whole range
    for prev, cur in zip(epochs, epochs[1:]):
        assert cur.from_lsn == prev.to_lsn + 1
    total = sum(log.where(e.predicate()).count() for e in epochs)
    assert total == 4_000
    # no transaction (lsn) straddles an epoch boundary by construction:
    # membership is a closed lsn interval — verify via min/max per epoch
    lo, hi = log.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    assert epochs[0].from_lsn <= lo and epochs[-1].to_lsn >= hi


def test_group_transactions(spark, person_df):
    txns = {r["lsn"]: r for r in group_transactions(person_df).collect()}
    assert txns[1]["n_changes"] == 4 and txns[1]["n_inserts"] == 4
    assert txns[3]["n_deletes"] == 4
    assert txns[4]["n_changes"] == 2 and txns[4]["n_keys"] == 1
    assert txns[6]["n_deletes"] == 8


def test_keyset_pagination_partitions_the_table(spark):
    """S6 laws: consecutive pages are disjoint, ordered, and together cover
    the table exactly; the cursor is the previous page's last key."""
    from cdc_tools_spark.operators.keyset import keyset_page, keyset_predicate

    rows = [(f"r{i % 5}", f"p{i:03d}", i) for i in range(57)]
    df = spark.createDataFrame(rows, "repo string, path string, v long")

    seen, cursor = [], None
    while True:
        page = keyset_page(df, ("repo", "path"), cursor, page_size=10).collect()
        if not page:
            break
        keys = [(r["repo"], r["path"]) for r in page]
        assert keys == sorted(keys)  # key-ordered within the page
        assert len(page) <= 10
        seen += keys
        cursor = keys[-1]  # FullLoadBatch.LastRowKey resume semantics
    assert seen == sorted({(r, p) for r, p, _ in rows})  # exact cover, no dups

    import pytest

    with pytest.raises(ValueError, match="arity"):
        keyset_predicate(("a", "b"), ("only-one",))


def test_csv_stage_docs_cell_rules(spark):
    """P9 rules (S3Uploader.cs:88-100): pipe delimiter, yyyy-MM-dd dates,
    second-truncated timestamps, null -> empty cell; DELETE rows become
    key-only delete-doc lines."""
    import datetime

    from pyspark.sql import types as T

    from cdc_tools_spark.functions.csv_format import stage_documents

    schema = T.StructType([
        T.StructField("lsn", T.LongType()),
        T.StructField("seqval", T.LongType()),
        T.StructField("change_type", T.IntegerType()),
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("amount", T.DecimalType(12, 2), True),
        T.StructField("d", T.DateType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("content", T.StringType(), True),
    ])
    import decimal

    rows = [
        (1, 0, 2, "r", "a", decimal.Decimal("12.30"), datetime.date(2024, 3, 1),
         datetime.datetime(2024, 3, 1, 8, 4, 19, 234115), "hello"),
        (1, 1, 2, "r", "b", None, None, None, None),  # nulls -> empty cells
        (2, 0, 1, "r", "c", None, None, None, None),  # DELETE -> key-only line
    ]
    docs = {
        (r["doc_type"], r["path"]): r["line"]
        for r in stage_documents(
            spark.createDataFrame(rows, schema),
            ("repo", "path"), ("amount", "d", "ts", "content"),
        ).collect()
    }
    assert docs[("upsert", "a")] == "r|a|12.30|2024-03-01|2024-03-01 08:04:19|hello"
    assert docs[("upsert", "b")] == "r|b||||"
    assert docs[("delete", "c")] == "r|c"


def test_keyset_page_plans_as_take_ordered(spark, tmp_path):
    """S6 plan gate: ORDER BY keys LIMIT n must plan as
    TakeOrderedAndProject (per-partition top-n + bounded driver merge) —
    never a global Sort."""
    from cdc_tools_spark.operators.keyset import keyset_page

    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(f"r{i % 5}", f"p{i}", i) for i in range(100)],
        "repo string, path string, v long",
    ).write.parquet(p)
    page = keyset_page(spark.read.parquet(p), ("repo", "path"),
                       after=("r1", "p0"), page_size=10)
    plan = page._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_compaction_compacts_map_side_below_the_shuffle(spark, tmp_path):
    """The skew argument's plan: ``max_by`` over a struct plans as sort
    aggregation, and its partial half (``partial_max_by``) runs below the
    key exchange, so each input partition ships at most one row per key."""
    p = str(tmp_path / "log")
    synthetic_binlog(spark, 2_000, n_keys=50, hot_key_pct=40, seed=3).write.parquet(p)
    plan = compact_last_write_wins(spark.read.parquet(p))._jdf.queryExecution()
    lines = plan.executedPlan().toString().splitlines()

    def first(token):
        return next(i for i, line in enumerate(lines) if token in line)

    exchange = first("Exchange hashpartitioning(repo")
    assert first("partial_max_by") > exchange  # printed below = runs before
    assert "SortAggregate" in lines[first("partial_max_by")]
    assert not any("HashAggregate" in line for line in lines)
