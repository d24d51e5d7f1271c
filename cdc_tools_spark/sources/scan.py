"""Scan-parallelism guard for unsplittable inputs.

A parquet file is splittable only at row-group boundaries: Spark plans
byte-range splits, but every row group is read by the single task whose
range contains its midpoint. A table stored as one file with one row group
therefore scans on ONE task no matter how many cores the cluster has, and
every downstream narrow operation (tokenize, explode, hash) inherits that
single-task stage — the classic "one huge unsplittable file" input-skew
case (optimization guide §2.5).

:func:`parallel_read` detects the case from file/row-group counts and
repartitions the scan output round-robin to ``sc.defaultParallelism``.
The repartition shuffles only the raw table bytes (once, before any
derivation) and is scale-adaptive by construction: a production table has
many files and row groups per file, so ``n_files >= cores`` (or
``row_groups >= cores``) short-circuits and the read is returned
unchanged — no shuffle is ever added at 100 TB. Inspecting row-group
counts costs one footer read per file and is only attempted for a
below-cores number of local files; on other storage the same byte floor
applies, from one file status per file.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from cdc_tools_spark.lake import fsio

# Inputs smaller than this are not worth an extra exchange: the whole table
# is a couple of scan tasks' worth of bytes and typically feeds a broadcast.
# 256 KiB keeps dimension tables (region/nation/…) on the plain path while
# still parallelizing sub-MiB document corpora whose downstream work is
# derivation-heavy (r7 A/B at sf0.1: the 594 KiB documents table gated the
# whole text/dedup plane to one task below the former 1 MiB threshold).
MIN_PARALLELIZE_BYTES = 256 << 10


def _local_path(uri: str) -> str | None:
    """Filesystem path of a local file URI (``file:///x``, ``file:/x`` or a
    bare ``/x``); None for any other scheme and for ``file://host/...``,
    whose netloc names a remote host."""
    u = urlparse(uri)
    if u.scheme not in ("", "file") or u.netloc:
        return None
    return u.path if u.path.startswith("/") else None


def _effective_splits(files: list[str]) -> tuple[int, int] | None:
    """(total_row_groups, total_bytes) for local parquet files, or None
    when any file is non-local / unreadable (caller falls back to the
    planner's split count)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow ships with pyspark
        return None
    groups = 0
    nbytes = 0
    for uri in files:
        path = _local_path(uri)
        if path is None:
            return None
        try:
            groups += pq.ParquetFile(path).metadata.num_row_groups
            nbytes += os.path.getsize(path)
        except OSError:
            return None
    return groups, nbytes


def parallel_read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, repartitioned to cluster parallelism
    when (and only when) the file layout cannot provide it."""
    df = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if len(files) >= target:
        return df
    info = _effective_splits(list(files))
    if info is None:
        # non-local storage: the same byte floor, from one Hadoop FS status
        # per file (fewer than cores of them), then the planner's
        # byte-range splits
        nbytes = sum(fsio.size(f) for f in files)
        if nbytes < MIN_PARALLELIZE_BYTES or df.rdd.getNumPartitions() >= target:
            return df
        return df.repartition(target)
    groups, nbytes = info
    if groups >= target or nbytes < MIN_PARALLELIZE_BYTES:
        return df
    return df.repartition(target)
