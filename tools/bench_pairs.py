#!/usr/bin/env python3
"""Alternating parent/change pairs of one perfbench workload.

Runs ``perfbench/run.py`` from a checkout of the parent revision and from
this tree, one after the other, for ``--pairs`` pairs; the side that runs
first swaps with every pair, so a slow stretch of the host lands on both
sides alike. Prints every run as it finishes, then per end-to-end metric
each side's median and IQR/median, how much worse the change's median is
(signed, by the metric's ``better`` direction in ``BENCHMARK.json``), and
how many pairs the change won. The last line is the same summary as JSON.

    python tools/bench_pairs.py --workload ingest --pairs 10
    python tools/bench_pairs.py --workload operator_suite --pairs 10

Every run is ``perfbench/run.py --seconds 15``, the benchmark's fixed run
length. The parent is ``--base``, by default ``HEAD`` while this tree has
uncommitted changes to tracked files and ``HEAD~1`` once it has none. It is
unpacked with ``git archive`` into a temporary directory, which is removed
at exit; the repository's own git state is not touched.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_SECONDS = "15"


def default_base() -> str:
    """``HEAD`` while tracked files differ from it, else ``HEAD~1``."""
    dirty = subprocess.run(["git", "diff", "--quiet", "HEAD"], cwd=REPO).returncode
    return "HEAD" if dirty else "HEAD~1"


@contextlib.contextmanager
def parent_checkout(base: str):
    """The files of ``base``, unpacked into a temporary directory that is
    removed on exit."""
    tmp = tempfile.mkdtemp(prefix="bench_pairs_")
    try:
        tar = subprocess.run(["git", "archive", base], cwd=REPO, check=True,
                             capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=tar, check=True)
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_once(tree: str, workload: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seconds", RUN_SECONDS]
    t0 = time.time()
    out = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    wall = time.time() - t0
    lines = [x for x in out.stdout.splitlines() if x.startswith("{")]
    if not lines:
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                "wall_s": wall, "error": out.stderr[-2000:]}
    rec = json.loads(lines[-1])
    rec["metrics"] = {k: v["value"] for k, v in rec["metrics"].items()}
    rec["wall_s"] = wall
    return rec


def spread(xs: list[float]) -> tuple[float, float]:
    """(median, IQR/median)."""
    med = statistics.median(xs)
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [med] * 3
    return med, (q[2] - q[0]) / med if med else 0.0


def summarize(runs: list[tuple[dict, dict]], better: dict[str, str]) -> dict:
    out = {}
    for name, direction in better.items():
        pairs = [(p["metrics"][name], c["metrics"][name]) for p, c in runs
                 if name in p["metrics"] and name in c["metrics"]]
        if not pairs:
            continue
        pm, piqr = spread([p for p, _ in pairs])
        cm, ciqr = spread([c for _, c in pairs])
        sign = 1 if direction == "lower" else -1
        out[name] = {
            "parent_median": pm, "parent_iqr_over_median": round(piqr, 3),
            "change_median": cm, "change_iqr_over_median": round(ciqr, 3),
            "worse_by": round(sign * (cm - pm) / pm, 3) if pm else 0.0,
            "change_wins": sum(1 for p, c in pairs if sign * (c - p) < 0),
            "pairs": len(pairs),
        }
    for side, i in (("parent", 0), ("change", 1)):
        walls = [r[i]["wall_s"] for r in runs]
        ops = sum(r[i]["attempted"] for r in runs)
        out[f"{side}_wall_s_median"] = round(statistics.median(walls), 1)
        out[f"{side}_failed_share"] = sum(r[i]["failed"] for r in runs) / ops if ops else 0.0
        out[f"{side}_incorrect_runs"] = sum(1 for r in runs if not r[i]["correct"])
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "operator_suite"))
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--base", default=None)
    args = p.parse_args()
    base = args.base or default_base()
    print(f"parent: {base}", flush=True)

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}

    runs = []
    with parent_checkout(base) as parent:
        for i in range(args.pairs):
            sides = {}
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                rec = run_once(parent if side == "parent" else REPO, args.workload)
                sides[side] = rec
                shown = " ".join(f"{k}={v:.4g}" for k, v in rec["metrics"].items())
                print(f"pair {i + 1} {side}: correct={rec['correct']} "
                      f"failed={rec['failed']}/{rec['attempted']} "
                      f"wall={rec['wall_s']:.1f}s {shown}{rec.get('error', '')}", flush=True)
            runs.append((sides["parent"], sides["change"]))
    summary = summarize(runs, better)
    for name, s in summary.items():
        if isinstance(s, dict):
            print(f"{name}: parent {s['parent_median']:.4g} (IQR/med "
                  f"{s['parent_iqr_over_median']}), change {s['change_median']:.4g} "
                  f"(IQR/med {s['change_iqr_over_median']}), worse by "
                  f"{s['worse_by']:+.3f}, change won {s['change_wins']}/{s['pairs']}")
    print(json.dumps({"workload": args.workload, "base": base, "summary": summary,
                      "runs": [[p, c] for p, c in runs]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
