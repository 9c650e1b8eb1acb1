#!/usr/bin/env python3
"""Self-time report over a span file from a traced run.

    python3 perfbench/selftime.py perfbench/out/spans/<workload>-seed<N>.jsonl

A span's self time is its duration minus the part of its interval that
its child spans cover (overlapping children, such as org calls made from
several task threads at once, count once). Prints, per layer and per
span name, the span count, total time and total self time.
"""
import json
import sys
from collections import defaultdict


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def report(spans):
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_us"], s["end_us"]))
    rows = defaultdict(lambda: [0, 0, 0])  # (layer, name) -> count, total, self
    for s in spans:
        dur = s["end_us"] - s["start_us"]
        row = rows[(s["layer"], s["name"])]
        row[0] += 1
        row[1] += dur
        row[2] += dur - covered(s["start_us"], s["end_us"], children[s["id"]])
    return rows


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    rows = report(spans)
    by_layer = defaultdict(lambda: [0, 0, 0])
    for (layer, _), r in rows.items():
        for i in range(3):
            by_layer[layer][i] += r[i]
    print(f"{'layer':10s} {'name':28s} {'count':>8s} {'total_s':>10s} {'self_s':>10s}")
    for layer in sorted(by_layer, key=lambda l: -by_layer[l][2]):
        c, t, s = by_layer[layer]
        print(f"{layer:10s} {'(all)':28s} {c:8d} {t / 1e6:10.3f} {s / 1e6:10.3f}")
        names = sorted((n for l, n in rows if l == layer), key=lambda n: -rows[(layer, n)][2])
        for n in names:
            c, t, s = rows[(layer, n)]
            print(f"{'':10s} {n[:28]:28s} {c:8d} {t / 1e6:10.3f} {s / 1e6:10.3f}")


if __name__ == "__main__":
    main()
