"""Per-key last-write-wins compaction — the relational core of the engine.

Reimplements the reference's ``S3Uploader.GetValidChanges``
(CdcTools.Redshift/S3Uploader.cs:120-136): group changes by key, order by
``(lsn, seqval)``, keep only the final change per key, and drop
UPDATE_BEFORE images entirely (only types {DELETE, INSERT, UPDATE_AFTER} are
ever admitted — S3Uploader.cs:23,38).

One physical plan: ``groupBy(key).agg(max_by(payload, (lsn, seqval)))``.
Sort-based aggregation with **map-side partial compaction**: ``max_by``
over a struct buffer cannot use hash aggregation, so Spark plans a partial
and a final ``SortAggregate``, and the partial one runs below the shuffle.
Each input partition pre-compacts its local events per key before the
shuffle, so a hot key that dominates the input (FIXTURES.md F6: one repo =
50% of events) shuffles at most one row per key per input partition. This
is the scale-correct plan for 10^10 events — no global sort, no
single-reducer hot spot, and the shuffle volume is bounded by |keys| ×
|partitions|, not by |events|. The same core compacts stored rows at read
time on merge-on-read tables (:func:`last_per_key`).

The aggregate and its unpacking select are built once per SparkContext,
column list, key and order (:func:`_last_per_key_exprs`): building a
``Column`` costs py4j round trips, and Spark gives a reused ``Column``
fresh expression ids in every plan that uses it.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame

from cdc_tools_spark.sources.binlog import DELETE, UPDATE_BEFORE


@functools.lru_cache(maxsize=64)
def _last_per_key_exprs(
    sc: SparkContext,
    columns: tuple[str, ...],
    key_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
) -> tuple[tuple[Column, ...], Column, tuple[Column, ...]]:
    """(grouping columns, ``max_by`` aggregate, unpacking select) of
    :func:`last_per_key`. ``sc`` keys the cache to the context whose JVM
    holds the Columns."""
    payload_cols = [c for c in columns if c not in key_cols]
    ord_expr = F.struct(*[F.col(c) for c in order_cols])
    last = F.max_by(F.struct(*[F.col(c) for c in payload_cols]), ord_expr).alias("_last")
    unpack = tuple(
        F.col(f"_last.{c}").alias(c) if c in payload_cols else F.col(c)
        for c in columns
    )
    return tuple(F.col(c) for c in key_cols), last, unpack


def last_per_key(
    df: DataFrame, key_cols: Sequence[str], order_cols: Sequence[str]
) -> DataFrame:
    """≤1 row per key: the row with the greatest ``order_cols`` tuple, as
    one ``max_by`` sort aggregation. Output columns = input columns (same
    order)."""
    keys, last, unpack = _last_per_key_exprs(
        df.sparkSession.sparkContext, tuple(df.columns), tuple(key_cols),
        tuple(order_cols),
    )
    return df.groupBy(*keys).agg(last).select(*unpack)


def compact_last_write_wins(
    changes: DataFrame,
    key_cols: Sequence[str] = ("repo", "path"),
    order_cols: Sequence[str] = ("lsn", "seqval"),
) -> DataFrame:
    """≤1 row per key: the payload of the latest ``(lsn, seqval)`` change.

    Output columns = input columns (same order). UPDATE_BEFORE rows are
    filtered before ranking so an UPDATE_BEFORE can never be a key's "last"
    change (the reference admits only types {1,2,4} into compaction).
    """
    admitted = changes.where(F.col("change_type") != UPDATE_BEFORE)
    return last_per_key(admitted, key_cols, order_cols)


def split_upserts_deletes(
    compacted: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Disjoint split of a compacted batch into (upserts, delete-keys).

    Mirrors the reference's two staging documents: upsert doc = last change
    ∈ {INSERT, UPDATE_AFTER} (S3Uploader.cs:23), delete doc = last change =
    DELETE (S3Uploader.cs:38). In the Spark engine both branches feed one
    MERGE, so this is exposed mainly for metrics and tests.
    """
    upserts = compacted.where(F.col("change_type") != DELETE)
    deletes = compacted.where(F.col("change_type") == DELETE)
    return upserts, deletes
