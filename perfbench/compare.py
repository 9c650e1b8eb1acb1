#!/usr/bin/env python3
"""Summarize one set of benchmark runs, or compare two.

    python3 perfbench/compare.py SET_A [SET_B]

A set is a directory of run records written by perfbench/run.py (point
$PERFBENCH_RECORDS at a fresh directory per set). Untraced runs only.
For each workload and end-to-end metric of BENCHMARK.json it prints the
number of runs, the median, the quartiles (statistics.quantiles, n=4)
and the spread: (q3 - q1) / median. A spread over the metric's bound is
flagged. With two sets it adds B's median, B's
change against A in the metric's worse direction, and whether the sets
agree: B's spread within the bound and B's median not worse than A's by
more than the bound. Exits 1 when anything is flagged.
"""
import json
import statistics
import sys
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def load(directory):
    runs = {}
    for f in sorted(Path(directory).glob("*.json")):
        rec = json.loads(f.read_text())
        if rec["stamp"].get("trace"):
            continue
        runs.setdefault(rec["stamp"]["workload"], []).append(rec["result"])
    return runs


def summary(results, metric):
    vals = [r["metrics"][metric]["value"] for r in results if metric in r["metrics"]]
    if len(vals) < 2:
        return None
    q1, med, q3 = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return {"n": len(vals), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def worse(a, b, better):
    """B's change against A, positive when B is worse."""
    return (b - a) / a if better == "lower" else (a - b) / a


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    sets = [load(d) for d in sys.argv[1:]]
    flagged = False
    head = f"{'workload':11s} {'metric':14s} {'n':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s}"
    if len(sets) == 2:
        head += f" {'n_B':>4s} {'median_B':>12s} {'spread_B':>8s} {'worse':>7s} verdict"
    print(head)
    for w in sorted(set().union(*sets)):
        for m in SPEC["end_to_end"]:
            name, bound = m["name"], m["bound"]
            a = summary(sets[0].get(w, []), name)
            if a is None:
                continue
            line = (f"{w:11s} {name:14s} {a['n']:3d} {a['median']:12.6g} {a['q1']:12.6g} "
                    f"{a['q3']:12.6g} {a['spread']:7.3f}")
            bad = a["spread"] > bound
            if len(sets) == 2:
                b = summary(sets[1].get(w, []), name)
                if b is None:
                    line += "  (no runs in B)"
                    bad = True
                else:
                    d = worse(a["median"], b["median"], m["better"])
                    ok = d <= bound and b["spread"] <= bound
                    bad = bad or not ok
                    line += (f" {b['n']:4d} {b['median']:12.6g} {b['spread']:8.3f} {d:7.3f} "
                             f"{'agree' if ok else 'DISAGREE'}")
            if bad:
                line += f"  <-- bound {bound}"
            flagged |= bad
            print(line)
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
