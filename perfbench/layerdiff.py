#!/usr/bin/env python3
"""Layer-diff report over two sets of traced benchmark results.

    python3 perfbench/layerdiff.py BEFORE_DIR AFTER_DIR

Each directory holds result files written by perfbench/run.py (it keeps
one per run under .bench_build/results/); traced runs (--trace 1) carry the
per-layer metrics and per-layer self times. For every workload and layer the
report lists the metrics whose median moved by more than their own
run-to-run spread: the larger of the two sides' spreads, each the distance
between the first and third quartile (the full range below four runs).
A bench diff thereby names the layer that moved.
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    """{workload: [summary, ...]} of the traced results in directory d."""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace") and "per_layer" in r:
            out.setdefault(r["workload"], []).append(r)
    return out


def spread(xs):
    if len(xs) < 2:
        return 0.0
    if len(xs) < 4:
        return max(xs) - min(xs)
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def series(runs):
    """metric -> values over runs; per-layer self times as `<layer>.self_s`."""
    out = {}
    for r in runs:
        for k, v in r["per_layer"].items():
            out.setdefault(k, []).append(float(v))
        for k, v in r.get("self_s", {}).items():
            out.setdefault(f"{k}.self_s", []).append(float(v))
    return out


def moved(before, after):
    """[(layer, metric, median_before, median_after, spread)] of the metrics
    whose medians differ by more than the larger spread."""
    rows = []
    a, b = series(before), series(after)
    for k in sorted(set(a) & set(b)):
        ma, mb = statistics.median(a[k]), statistics.median(b[k])
        s = max(spread(a[k]), spread(b[k]))
        if abs(mb - ma) > s:
            rows.append((k.split(".", 1)[0], k, ma, mb, s))
    return rows


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = load(argv[1]), load(argv[2])
    for w in sorted(set(before) | set(after)):
        if w not in before or w not in after:
            print(f"== {w}: traced results on one side only")
            continue
        print(f"== {w}: {len(before[w])} runs before, {len(after[w])} after")
        rows = moved(before[w], after[w])
        if not rows:
            print("   no layer moved beyond its spread")
        for layer in sorted({r[0] for r in rows}):
            print(f"   {layer}")
            for _, k, ma, mb, s in (r for r in rows if r[0] == layer):
                rel = f"{(mb - ma) / ma:+.1%}" if ma else "new"
                print(f"     {k:34s} {ma:12.4f} -> {mb:12.4f}  ({rel}; spread {s:.4f})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
