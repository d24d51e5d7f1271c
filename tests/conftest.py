from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from cdc_tools_spark.session import get_spark


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark("cdc-tools-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture
def apply_order(monkeypatch) -> list[str]:
    """Names of the apply step's calls in the order they ran: every
    ``ParquetMergeTable.merge``, ``CommitLog.commit`` and
    ``ParquetMergeTable.compact_table``."""
    from cdc_tools_spark.lake.parquet_merge import ParquetMergeTable
    from cdc_tools_spark.state.commit_log import CommitLog

    calls: list[str] = []
    for cls, name in ((ParquetMergeTable, "merge"), (CommitLog, "commit"),
                      (ParquetMergeTable, "compact_table")):
        real = getattr(cls, name)

        def spy(self, *a, _real=real, _name=name, **kw):
            calls.append(_name)
            return _real(self, *a, **kw)

        monkeypatch.setattr(cls, name, spy)
    return calls


# ---------------------------------------------------------------------------
# Independent oracle: replay a change-event list in plain Python/pandas.
# Used to assert engine output without trusting any engine code.
# ---------------------------------------------------------------------------

DELETE, INSERT, UPDATE_BEFORE, UPDATE_AFTER = 1, 2, 3, 4


def pandas_replay(events: list[dict]) -> dict[tuple[str, str], dict]:
    """Apply events in (lsn, seqval) order; last write wins per (repo, path);
    UPDATE_BEFORE never applied; DELETE removes the key."""
    state: dict[tuple[str, str], dict] = {}
    for ev in sorted(events, key=lambda e: (e["lsn"], e["seqval"])):
        if ev["change_type"] == UPDATE_BEFORE:
            continue
        key = (ev["repo"], ev["path"])
        if ev["change_type"] == DELETE:
            state.pop(key, None)
        else:
            state[key] = {k: v for k, v in ev.items() if k not in ("lsn", "seqval", "change_type")}
    return state


def person_scenario() -> tuple[list[dict], dict[tuple[str, str], dict]]:
    """FIXTURES.md F3 — the reference's manual end-to-end golden scenario
    (environment/SourceTables/modify-data.sql) re-expressed as F2 events."""
    j_names = ["James", "Jack", "John", "Jayne"]
    k_names = ["Katie", "Kevin", "Karen", "Kurt"]
    events: list[dict] = []

    def ev(lsn, seq, ct, repo, path, content=None):
        events.append(
            {
                "lsn": lsn,
                "seqval": seq,
                "change_type": ct,
                "repo": repo,
                "path": path,
                "commit": f"c{lsn}_{seq}",
                "lang": "json",
                "content": content,
            }
        )

    for i, name in enumerate(j_names, start=1):
        ev(1, i, INSERT, "people", str(i), f'{{"id":{i},"name":"{name}"}}')
    for i, name in enumerate(k_names, start=5):
        ev(2, i, INSERT, "people", str(i), f'{{"id":{i},"name":"{name}"}}')
    for i in range(1, 5):  # DELETE ... WHERE FirstName LIKE 'J%'
        ev(3, i, DELETE, "people", str(i))
    # update of a deleted row: after-image re-upserts id 1
    ev(4, 1, UPDATE_BEFORE, "people", "1", '{"id":1,"name":"James"}')
    ev(4, 2, UPDATE_AFTER, "people", "1", '{"id":1,"name":"Jamie"}')
    for i in range(1, 9):
        ev(5, i, INSERT, "addresses", str(i), f'{{"addr":{i}}}')
    for i in range(1, 9):  # DELETE FROM PersonAddress
        ev(6, i, DELETE, "addresses", str(i))

    return events, pandas_replay(events)


EVENT_SCHEMA = (
    "lsn long, seqval long, change_type int, repo string, path string, "
    "commit string, lang string, content string"
)
