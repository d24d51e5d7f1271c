"""The same seed gives the same inputs; another seed changes them."""

from __future__ import annotations

import os

from perfbench import backfill, sfgen, tail


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def test_backfill_log_follows_seed(spark, tmp_path):
    paths = {}
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        paths[name] = str(tmp_path / name)
        backfill.generate_log(spark, seed, paths[name], events=2_000)
    a, b, c = (_rows(spark, paths[k]) for k in "abc")
    assert a == b
    assert a != c
    assert len(a) == 2_000


def test_publish_schedule_follows_seed():
    one = tail.publish_schedule(3, 40)
    assert one == tail.publish_schedule(3, 40)
    assert one != tail.publish_schedule(4, 40)
    # one slot per 1/RATE, jittered inside its first half, never reordered
    for i, t in enumerate(one):
        assert i / tail.RATE <= t < (i + 0.5) / tail.RATE
    assert one == sorted(one)


def test_tail_files_follow_seed(spark, tmp_path):
    import pyspark.sql.functions as F

    def staged(seed, name):
        log = tail.tail_log(spark, seed, 2)
        frame = log.where(F.col("lsn") >= tail.PRELOAD_EVENTS // 4).toPandas()
        files = tail.stage_files(frame, 2, str(tmp_path / name))
        return [(open(p, "rb").read(), hi) for p, hi in files]

    a, b, c = staged(5, "a"), staged(5, "b"), staged(6, "c")
    assert a == b
    assert [x for x, _ in a] != [x for x, _ in c]
    # consecutive lsn ranges, FILE_EVENTS events each
    assert a[0][1] < a[1][1]
    assert a[1][1] == (tail.PRELOAD_EVENTS + 2 * tail.FILE_EVENTS) // 4 - 1


def test_suite_tables_follow_seed(tmp_path):
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        sfgen.write_tables(str(tmp_path / name), seed)

    def read(name, table):
        with open(os.path.join(tmp_path, name, f"{table}.parquet"), "rb") as f:
            return f.read()

    tables = sorted(n[: -len(".parquet")] for n in os.listdir(tmp_path / "a"))
    assert tables == [
        "customer", "documents", "embeddings", "events", "lineitem", "nation",
        "orders", "region",
    ]
    for t in tables:
        assert read("a", t) == read("b", t)
    for t in ("documents", "events", "embeddings", "lineitem"):
        assert read("a", t) != read("c", t)


def test_corpus_has_duplicates(tmp_path):
    import pyarrow.parquet as pq

    sfgen.write_tables(str(tmp_path), 9)
    texts = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    assert len(set(texts)) < len(texts)  # exact copies exist
