"""Transaction regrouping — the declarative form of the reference's C5.

The reference's ``TransactionCoordinator.GroupTransactionsAsync``
(CdcReader.Transactional/TransactionCoordinator.cs:104-194) hand-rolls a
K-way min-LSN merge across per-table buffers to rebuild commit-LSN
transaction batches. Over a DataFrame the whole coordinator collapses to
``groupBy("lsn")`` — Catalyst plans the shuffle, partial aggregation handles
the per-table buffering, and epoch atomicity (epochs never split an LSN)
gives the transactional apply guarantee for free.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def group_transactions(
    changes: DataFrame, key_cols: Sequence[str] = ("repo", "path")
) -> DataFrame:
    """Per-transaction summary: one row per commit LSN.

    Mirrors ``TransactionBatch`` (TransactionBatch.cs:8-19): the set of
    changes sharing one commit LSN, with the statement-ordering bounds the
    coordinator tracked imperatively.

    (r7 audit note: a hand-written two-level ``(lsn, key)`` pre-aggregation
    was benchmarked and plan-diffed against this form — Spark's single
    count-distinct rewrite already plans the identical Expand-free
    PartialMerge shape, so the declarative form stays.)
    """
    return changes.groupBy("lsn").agg(
        F.count(F.lit(1)).alias("n_changes"),
        F.countDistinct(*[F.col(c) for c in key_cols]).alias("n_keys"),
        F.min("seqval").alias("first_seqval"),
        F.max("seqval").alias("last_seqval"),
        F.sum(F.when(F.col("change_type") == 1, 1).otherwise(0)).alias("n_deletes"),
        F.sum(F.when(F.col("change_type") == 2, 1).otherwise(0)).alias("n_inserts"),
        F.sum(F.when(F.col("change_type") == 4, 1).otherwise(0)).alias("n_updates"),
    )

