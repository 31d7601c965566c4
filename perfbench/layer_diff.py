#!/usr/bin/env python3
"""Per-workload layer deltas between two sets of traced runs.

    python3 perfbench/layer_diff.py BEFORE AFTER

BEFORE and AFTER are each a trace file written by a traced run
(`run.py --trace 1` keeps them under .bench_build/traces/) or a
directory of them. Traces are grouped by workload; with several traces
of one workload the median of each metric is used. Prints one line per
workload with its eight largest per-layer changes (by relative size), e.g.

    catalog: spark.jobs -312, spark.driver_gap_s -9.1, queries.TextQueries.wall_s -4.2

so a performance change can show in which layer its saving sits.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

TOP = 8


def load(path):
    """{workload: {metric: median value}} from a trace file or directory."""
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    by = {}
    for f in files:
        t = json.loads(f.read_text())
        for k, v in t["layers"].items():
            if v is not None:
                by.setdefault(t["workload"], {}).setdefault(k, []).append(v)
    return {w: {k: statistics.median(vs) for k, vs in m.items()} for w, m in by.items()}


def fmt(x):
    if x == int(x) and abs(x) >= 10:
        return f"{int(x):+d}"
    return f"{x:+.3g}"


def deltas(before, after):
    """(metric, delta, relative change) for every metric that moved."""
    out = []
    for k in sorted(set(before) & set(after)):
        d = after[k] - before[k]
        if d == 0:
            continue
        rel = d / abs(before[k]) if before[k] else float("inf")
        out.append((k, d, rel))
    return sorted(out, key=lambda t: -abs(t[2]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    before, after = load(a.before), load(a.after)
    common = sorted(set(before) & set(after))
    if not common:
        sys.exit("no workload is traced on both sides")
    for w in common:
        shown = ", ".join(f"{k} {fmt(d)}" for k, d, _ in deltas(before[w], after[w])[:TOP])
        print(f"{w}: {shown or 'no change'}")


if __name__ == "__main__":
    main()
