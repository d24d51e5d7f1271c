"""The reference last-write-wins on a hand-built log with a known answer."""

from __future__ import annotations

from perfbench.reference import (
    reference_state,
    state_as_of,
    state_mismatches,
)

DELETE, INSERT, UPDATE_BEFORE, UPDATE_AFTER = 1, 2, 3, 4


def _e(lsn, seqval, change_type, path, content):
    return {
        "lsn": lsn, "seqval": seqval, "change_type": change_type,
        "repo": "r", "path": path, "commit": f"c{lsn}.{seqval}", "lang": "py",
        "content": content,
    }


# Deliberately out of order: the rule orders by (lsn, seqval), not position.
LOG = [
    # a: insert, update, delete, then re-insert -> alive with the re-insert
    _e(4, 0, INSERT, "a", "a-again"),
    _e(1, 0, INSERT, "a", "a1"),
    _e(2, 0, UPDATE_AFTER, "a", "a2"),
    _e(3, 0, DELETE, "a", "a2"),
    # b: two changes in one transaction -> the higher seqval wins
    _e(5, 1, UPDATE_AFTER, "b", "b-second"),
    _e(5, 0, INSERT, "b", "b-first"),
    # c: an UPDATE_BEFORE image after the insert is never applied
    _e(6, 0, INSERT, "c", "c-new"),
    _e(7, 0, UPDATE_BEFORE, "c", "c-old"),
    # d: insert then delete -> gone
    _e(1, 1, INSERT, "d", "d1"),
    _e(8, 0, DELETE, "d", "d1"),
    # e: only a before-image -> never exists
    _e(9, 0, UPDATE_BEFORE, "e", "e-old"),
]

FINAL = {
    ("r", "a"): ("c4.0", "py", "a-again"),
    ("r", "b"): ("c5.1", "py", "b-second"),
    ("r", "c"): ("c6.0", "py", "c-new"),
}


def test_python_rule_final_state():
    assert state_as_of(LOG) == FINAL


def test_python_rule_as_of_earlier_lsns():
    assert state_as_of(LOG, upto_lsn=2) == {
        ("r", "a"): ("c2.0", "py", "a2"),
        ("r", "d"): ("c1.1", "py", "d1"),
    }
    # the delete at lsn 3 hides a until its re-insert at lsn 4
    assert ("r", "a") not in state_as_of(LOG, upto_lsn=3)
    assert state_as_of(LOG, upto_lsn=0) == {}


def test_spark_rule_matches_known_answer(spark):
    from cdc_tools_spark.sources.binlog import BINLOG_SCHEMA

    log = spark.createDataFrame(
        [tuple(e[f.name] for f in BINLOG_SCHEMA.fields) for e in LOG], BINLOG_SCHEMA
    )
    got = {
        (r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
        for r in reference_state(log).collect()
    }
    assert got == FINAL


def test_state_mismatches_counts_both_directions(spark):
    cols = ["repo", "path", "commit", "lang", "content"]
    a = spark.createDataFrame([("r", "a", "c", "py", "x"), ("r", "b", "c", "py", "y")], cols)
    b = spark.createDataFrame([("r", "a", "c", "py", "x"), ("r", "b", "c", "py", "z")], cols)
    assert state_mismatches(a, a) == 0
    assert state_mismatches(a, b) == 2
