#!/usr/bin/env python3
"""Summarize one set of benchmark run artifacts, or compare two.

    python3 perfbench/compare.py RUNS_DIR
    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds run artifacts as run.py writes them
(.bench_runs/<workload>/seed<N>-trace<T>-<time>.json, searched
recursively). For each workload and end-to-end metric it prints both
medians, both quartiles and whether the new median is within the metric's
bound of the base median in the metric's worse direction. Untraced runs
give the end-to-end figures; traced runs give the tracing overhead
(traced operation p50 minus the untraced median) and per-layer medians.
With one directory both sides are the same set, which prints its medians,
quartiles and spread (q3 - q1 as a share of the median). Exits 1 if any
metric is worse than its bound.
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    runs = {}
    for f in glob.glob(os.path.join(d, "**", "*.json"), recursive=True):
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            a = json.load(fh)
        runs.setdefault((a["workload"], a["trace"]), []).append(a)
    return runs


def stats(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    base = load(sys.argv[1])
    new = load(sys.argv[-1])
    worse = 0
    print(f"{'workload':<16} {'metric':<14} {'base median [q1, q3]':>34} {'new median [q1, q3]':>34}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        a, b = base.get((w, 0), []), new.get((w, 0), [])
        if not a or not b:
            print(f"{w:<16} (no untraced runs in {'base' if not a else 'new'})")
            continue
        for m in bench["end_to_end"]:
            va = [next(x["value"] for x in r["end_to_end"] if x["name"] == m["name"]) for r in a]
            vb = [next(x["value"] for x in r["end_to_end"] if x["name"] == m["name"]) for r in b]
            (qa1, ma, qa3), (qb1, mb, qb3) = stats(va), stats(vb)
            change = (mb - ma) / ma if ma else 0.0
            bad = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            worse += bad
            spread = (qb3 - qb1) / mb if mb else 0.0
            print(f"{w:<16} {m['name']:<14} {ma:>12.4g} [{qa1:.4g}, {qa3:.4g}]".ljust(66) +
                  f"{mb:>12.4g} [{qb1:.4g}, {qb3:.4g}]".ljust(36) +
                  f"{change:+.1%} {'WORSE' if bad else 'ok'} (bound {m['bound']:.0%}, "
                  f"new spread {spread:.1%}, n={len(va)}/{len(vb)})")
        for label, runs in (("base", base), ("new", new)):
            traced = runs.get((w, 1), [])
            if traced:
                untraced = statistics.median(
                    next(x["value"] for x in r["end_to_end"] if x["name"] == "op_p50_s")
                    for r in runs[(w, 0)])
                over = [next(x["value"] for x in r["end_to_end"] if x["name"] == "op_p50_s") - untraced
                        for r in traced]
                print(f"{w:<16} tracing overhead ({label}): op_p50 traced - untraced median = "
                      f"{statistics.median(over):+.4f} s over {len(traced)} traced runs")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
