#!/usr/bin/env python3
"""Compare two sets of benchmark result files, workload by workload.

Usage:
    python3 perfbench/compare.py BASE CHANGE [--bench BENCHMARK.json]

BASE and CHANGE are directories (or single files) of result files as
perfbench/run.py writes them (.bench_build/perfbench/results/*.json).

For every workload and end-to-end metric it prints both sides' median and
quartiles and a verdict:
  better / worse     the change's median moved past the metric's bound
                     (worse is a regression);
  same               within the bound;
  unresolved         a side's run-to-run spread (quartile distance over
                     median) exceeds the bound, unless every run of the
                     change beats every run of the base.
It then lists the per-layer metrics that moved: the medians differ by more
than the wider of the two sides' quartile distances. Exits 1 when any
end-to-end metric regressed.
"""
import argparse
import json
import os
import statistics
import sys


def load(path):
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".json")]
             if os.path.isdir(path) else [path])
    runs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r and "end_to_end" in r:
            runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / abs(med) if med else 0.0


def verdict(base, change, better, bound):
    """'better', 'worse', 'same' or 'unresolved' for one end-to-end metric."""
    sign = 1 if better == "higher" else -1
    mb, mc = statistics.median(base), statistics.median(change)
    rel = sign * (mc - mb) / abs(mb) if mb else 0.0  # > 0 is a gain
    change_wins = all(sign * (c - b) > 0 for c in change for b in base)
    if max(spread(base), spread(change)) > bound and not change_wins:
        return "unresolved"
    return "worse" if rel < -bound else "better" if rel > bound else "same"


def fmt(q):
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def compare(base_runs, change_runs, spec, out=sys.stdout):
    """Prints the comparison; returns the number of end-to-end regressions."""
    regressions = 0
    for w in [x["name"] for x in spec["workloads"]]:
        b = [r for r in base_runs if r["workload"] == w]
        c = [r for r in change_runs if r["workload"] == w]
        if not b or not c:
            print(f"== {w}: no runs on {'base' if not b else 'change'} side", file=out)
            continue
        loaded = sum(r.get("loaded", False) for r in b + c)
        print(f"== {w}: {len(b)} base runs, {len(c)} change runs"
              + (f" ({loaded} taken with loadavg above nproc)" if loaded else ""), file=out)
        bt, ct = [r for r in b if r["trace"] == 0], [r for r in c if r["trace"] == 0]
        for m in spec["end_to_end"]:
            xb = [r["end_to_end"][m["name"]] for r in bt if m["name"] in r["end_to_end"]]
            xc = [r["end_to_end"][m["name"]] for r in ct if m["name"] in r["end_to_end"]]
            if not xb or not xc:
                continue
            v = verdict(xb, xc, m["better"], m["bound"])
            regressions += v == "worse"
            print(f"  {m['name']:28s} {m['unit']:6s} base {fmt(quartiles(xb)):34s} "
                  f"change {fmt(quartiles(xc)):34s} {v}", file=out)
        lb = [r["per_layer"] for r in b if r["trace"] == 1]
        lc = [r["per_layer"] for r in c if r["trace"] == 1]
        moved = []
        for m in spec["per_layer"]:
            xb = [l[m["name"]] for l in lb if m["name"] in l]
            xc = [l[m["name"]] for l in lc if m["name"] in l]
            if not xb or not xc:
                continue
            qb, qc = quartiles(xb), quartiles(xc)
            if abs(qc[1] - qb[1]) > max(qb[2] - qb[0], qc[2] - qc[0]):
                rel = (qc[1] - qb[1]) / abs(qb[1]) if qb[1] else float("inf")
                moved.append(f"    {m['name']:44s} {qb[1]:.4g} -> {qc[1]:.4g} {m['unit']} ({rel:+.1%})")
        print(f"  layers moved ({len(lb)} vs {len(lc)} traced runs):", file=out)
        print("\n".join(moved) if moved else "    none", file=out)
    return regressions


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.bench) as fh:
        spec = json.load(fh)
    sys.exit(1 if compare(load(a.base), load(a.change), spec) else 0)


if __name__ == "__main__":
    main()
