#!/usr/bin/env python3
"""Compare two result sets of the benchmark, metric by metric.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

A result set is a JSON-lines file of run records, one per run, as
`perfbench/run.py` appends them to `.bench_build/runs.jsonl` (the recorded
baseline `perfbench/baseline.jsonl` has the same format). Runs are grouped
by (workload, trace) and, within a group, paired by seed. The tool refuses
(exit 2) when the two sets differ in ncpus, scale factor or the seeds of a
group, or when a workload of BENCHMARK.json has untraced runs in one set
only, because such numbers are not comparable. Other groups found in one
set only (traced runs, unlisted workloads) are named and skipped.

For every (workload, end-to-end metric) it prints both medians, the
relative change, both spreads (IQR / median), the share of seed pairs in
which the change is better, and a verdict against the metric's `bound` in
BENCHMARK.json:
  unresolved  a side's spread is wider than the bound, and not every run
              of the change beats every run of the parent;
  regression  the change's median is worse than the parent's by more than
              the bound (exit 1);
  improved    the change's median is better by more than the parent's
              spread, and the change is better in at least 9 of 10 pairs;
  unchanged   otherwise.
Per-layer metrics (traced runs) are listed with their relative change and
no verdict.
"""
import json
import math
import statistics
import sys
from collections import defaultdict
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
PAIR_WIN_SHARE = 0.9


def load(path):
    runs = [json.loads(l) for l in Path(path).read_text().splitlines() if l.strip()]
    return [r for r in runs if "metrics" in r]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    groups = defaultdict(lambda: ([], []))
    for side, runs in ((0, a), (1, b)):
        for r in runs:
            groups[(r["workload"], r["trace"])][side].append(r)
    refused = []
    listed = {w["name"] for w in SPEC["workloads"]}
    for (wl, tr), (ra, rb) in sorted(groups.items()):
        if not ra or not rb:
            side = "parent" if ra else "change"
            if wl in listed and tr == 0:
                refused.append(f"{wl} trace=0: runs in the {side} set only")
            else:
                print(f"skipped: {wl} trace={tr} has runs in the {side} set only")
            continue
        for key in ("ncpus", "sf"):
            va, vb = {r[key] for r in ra}, {r[key] for r in rb}
            if va != vb:
                refused.append(f"{wl} trace={tr}: {key} {sorted(va)} vs {sorted(vb)}")
        sa, sb = sorted(r["seed"] for r in ra), sorted(r["seed"] for r in rb)
        if sa != sb:
            refused.append(f"{wl} trace={tr}: seeds {sa} vs {sb}")
    if refused:
        print("refused: the sets are not comparable\n  " + "\n  ".join(refused))
        sys.exit(2)

    bounds = {m["name"]: m for m in SPEC["end_to_end"]}
    regressions = 0
    print(f"{'workload':8s} {'metric':34s} {'parent':>12s} {'change':>12s} "
          f"{'delta':>8s} {'spread':>13s} {'wins':>5s} {'bound':>6s}  verdict")
    for (wl, tr), (ra, rb) in sorted(groups.items()):
        if not ra or not rb:
            continue
        names = sorted(set(ra[0]["metrics"]) & set(rb[0]["metrics"]),
                       key=lambda n: (n not in bounds, n))
        # the seed lists are equal (checked above), so sorting pairs them
        ra, rb = sorted(ra, key=lambda r: r["seed"]), sorted(rb, key=lambda r: r["seed"])
        for n in names:
            xa = [r["metrics"][n]["value"] for r in ra]
            xb = [r["metrics"][n]["value"] for r in rb]
            ma, mb = statistics.median(xa), statistics.median(xb)
            delta = (mb - ma) / ma if ma else 0.0
            if n not in bounds:
                print(f"{wl:8s} {n:34s} {ma:12.5g} {mb:12.5g} {delta:+8.1%}")
                continue
            m = bounds[n]
            lower = m["better"] == "lower"
            worse = delta if lower else -delta
            sp_a, sp_b = spread(xa), spread(xb)
            wins = sum((b < a) if lower else (b > a) for a, b in zip(xa, xb))
            all_better = (max(xb) < min(xa)) if lower else (min(xb) > max(xa))
            if max(sp_a, sp_b) > m["bound"] and not all_better:
                verdict = "unresolved"
            elif worse > m["bound"]:
                verdict = "regression"
                regressions += 1
            elif -worse > sp_a and wins >= math.ceil(PAIR_WIN_SHARE * len(xa)):
                verdict = "improved"
            else:
                verdict = "unchanged"
            print(f"{wl:8s} {n:34s} {ma:12.5g} {mb:12.5g} {delta:+8.1%} "
                  f"{sp_a:6.1%}/{sp_b:6.1%} {wins:2d}/{len(xa):<2d} {m['bound']:6.2f}  {verdict}")
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
