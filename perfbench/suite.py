"""``operator_suite``: the 21 operator-suite leaves, one after another, over
seeded generated tables — many short queries, so planning and job launch
dominate. Passes repeat until ``--seconds`` have passed (at least one).
Each leaf's result is collected (Arrow ``toPandas``) inside its timing, so
the DuckDB oracle check after the window needs no second run.

Set-up writes ``SETUPS`` table sets with the benchmark's own generator
(untimed) and times the engine's first Spark read of every table in each
set; ``setup_s`` is the median of those read times.

End-to-end metrics: ``throughput_per_s`` is leaves completed per second of
leaf time; ``latency_p50_ms`` / ``latency_p90_ms`` are taken over each
leaf's median wall time across the passes.
"""

from __future__ import annotations

import contextlib
import os
import time

from perfbench import sfgen
from perfbench.harness import Outcome, describe, percentile, timed_setups
from perfbench.spans import SUITE_LEAVES

SETUPS = 3


def first_reads(spark, sf_dir: str) -> None:
    """The engine's first read of each generated table: file listing,
    footer and schema inference, one scan job."""
    for name in sorted(os.listdir(sf_dir)):
        spark.read.parquet(os.path.join(sf_dir, name)).count()


def normalize(df):
    """Order-insensitive, column-sorted, floats at 6 places — the shape
    both engines' results are compared in."""
    import numpy as np

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None or v != v else str(v))
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def oracle_mismatches(sf_dir: str, passes: list[dict], notes) -> int:
    """Each pass's collected result of each leaf against the leaf's DuckDB
    oracle."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet"):
            table = name[: -len(".parquet")]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{name}'")
    oracles = entry.oracle_sql()
    bad = 0
    for leaf in SUITE_LEAVES:
        want = normalize(con.execute(oracles[leaf]).df())
        for results in passes:
            got = results.get(leaf)
            if got is None:
                continue  # already counted as a raised call
            got = normalize(got)
            same_shape = list(got.columns) == list(want.columns) and len(got) == len(want)
            if not (same_shape and got.equals(want)):
                bad += 1
                notes(f"oracle mismatch: {leaf} ({len(got)} rows vs {len(want)})")
    con.close()
    return bad


def run(ctx) -> Outcome:
    import __spark_entry__ as entry

    spark = ctx.spark
    t_gen = time.time()
    dirs = [ctx.path(f"sf{i}") for i in range(SETUPS)]
    for i, d in enumerate(dirs):
        sfgen.write_tables(d, ctx.seed * 1000 + i)
    t_setup = time.time()
    setup_s, _ = timed_setups(SETUPS, lambda i: first_reads(spark, dirs[i]))
    sf_dir = dirs[0]
    queries = entry.queries()

    if ctx.tracer:
        ctx.tracer.install()
    passes: list[dict[str, float]] = []
    results: list[dict] = []  # each pass's collected result per leaf
    raised = 0
    t_start = time.time()
    while not passes or time.time() - t_start < ctx.seconds:
        times, got = {}, {}
        for leaf in SUITE_LEAVES:
            scope = ctx.tracer.span(f"queries.{leaf}") if ctx.tracer else contextlib.nullcontext()
            t = time.perf_counter()
            try:
                with scope:
                    got[leaf] = queries[leaf](spark, sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001 — a raised leaf is counted, not fatal
                ctx.note(f"{leaf} raised: {e!r}")
                got[leaf] = None
                raised += 1
            times[leaf] = time.perf_counter() - t
        passes.append(times)
        results.append(got)
    t_end = time.time()
    if ctx.tracer:
        ctx.tracer.uninstall()
        ctx.tracer.settle_counts()

    failed = raised + oracle_mismatches(sf_dir, results, ctx.note)
    ctx.note(
        f"phase s: generate {t_setup - t_gen:.1f}, set-up {t_start - t_setup:.1f}, "
        f"passes {t_end - t_start:.1f}, checks {time.time() - t_end:.1f}"
    )
    totals = [sum(p.values()) for p in passes]
    leaf_medians = [percentile([p[leaf] for p in passes], 50) for leaf in SUITE_LEAVES]
    attempted = len(passes) * len(SUITE_LEAVES)
    ctx.note(f"suite s: {describe(totals)}")
    ctx.note(f"leaf ms (median over passes): {describe([1000 * t for t in leaf_medians])}")
    return Outcome(
        setup_s,
        {
            "throughput_per_s": attempted / sum(totals),
            "latency_p50_ms": 1000 * percentile(leaf_medians, 50),
            "latency_p90_ms": 1000 * percentile(leaf_medians, 90),
        },
        attempted=attempted, failed=failed, window=(t_start, t_end),
    )
