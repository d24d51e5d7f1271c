"""The reference the benchmark checks the engine against: a plain
window-function last-write-wins over every applied event, written without
any of the engine's operators.

The rule: UPDATE_BEFORE images are never applied; per key the event with
the greatest ``(lsn, seqval)`` wins; a winning DELETE drops the key.
"""

from __future__ import annotations

KEY_COLS = ("repo", "path")
PAYLOAD_COLS = ("commit", "lang", "content")
DELETE = 1
UPDATE_BEFORE = 3


def reference_state(log):
    """Final table state for a change log (Spark DataFrame in, out)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    newest_first = Window.partitionBy(*KEY_COLS).orderBy(
        F.col("lsn").desc(), F.col("seqval").desc()
    )
    return (
        log.where(F.col("change_type") != UPDATE_BEFORE)
        .withColumn("_rank", F.row_number().over(newest_first))
        .where((F.col("_rank") == 1) & (F.col("change_type") != DELETE))
        .select(*KEY_COLS, *PAYLOAD_COLS)
    )


def state_mismatches(table, reference, cols=KEY_COLS + PAYLOAD_COLS) -> int:
    """Rows in one frame and not the other, counted both ways (as two
    ``exceptAll`` counts would, in one job)."""
    import pyspark.sql.functions as F

    side = "_side"
    both = table.select(*cols, F.lit(1).alias(side)).unionByName(
        reference.select(*cols, F.lit(-1).alias(side))
    )
    diff = both.groupBy(*cols).agg(F.sum(side).alias(side))
    return diff.agg(F.sum(F.abs(side))).first()[0] or 0


def parity_mismatches(table) -> int:
    """Rows whose stored ``content_sha256`` is not ``sha2(content, 256)``."""
    import pyspark.sql.functions as F

    return table.where(
        ~F.col("content_sha256").eqNullSafe(F.sha2("content", 256))
    ).count()


def state_as_of(events, upto_lsn: int | None = None) -> dict:
    """The same rule in plain Python, over event dicts: ``{key: payload}``
    for the keys alive after every event with ``lsn <= upto_lsn``."""
    best: dict = {}
    for e in events:
        if e["change_type"] == UPDATE_BEFORE:
            continue
        if upto_lsn is not None and e["lsn"] > upto_lsn:
            continue
        key = tuple(e[c] for c in KEY_COLS)
        order = (e["lsn"], e["seqval"])
        if key not in best or order > best[key][0]:
            best[key] = (order, e)
    return {
        k: tuple(e[c] for c in PAYLOAD_COLS)
        for k, (_, e) in best.items()
        if e["change_type"] != DELETE
    }
