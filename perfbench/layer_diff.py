#!/usr/bin/env python3
"""Name the layer that moved between two sets of traced benchmark runs.

    python3 perfbench/layer_diff.py <before> <after> [--top N]

Each side is a traced run's `record.json` or a directory searched for
them (e.g. a checkout's `.bench_out/`, written by
`run.py --trace 1`). Runs of one workload are combined by median. For
each workload the command prints the per-layer metrics that moved most,
then the queries whose warm latency moved most, each with the per-query
layer figures and span self times (`self_<span>_s`) that moved with it.
"""

import argparse
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import LAYERS  # noqa: E402

LAYER_OF = {m: layer for layer, ms in LAYERS.items() for m in ms}


def records(path):
    files = [path] if os.path.isfile(path) else \
        glob.glob(os.path.join(path, "**", "record.json"), recursive=True)
    by_workload = {}
    for f in files:
        r = json.load(open(f))
        if "layers" in r:
            by_workload.setdefault(r["stamp"]["workload"], []).append(r)
    return by_workload


def median_of(dicts):
    keys = {k for d in dicts for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in dicts) for k in keys}


def combine(runs):
    layers = median_of([r["layers"] for r in runs])
    queries = {q for r in runs for q in r["per_query"]}
    per_query = {q: median_of([r["per_query"].get(q, {}) for r in runs]) for q in queries}
    overhead = median_of([r["trace_overhead"] for r in runs if "trace_overhead" in r])
    return layers, per_query, overhead


def moved(before, after):
    """(key, before, after, delta, relative) sorted by relative size."""
    rows = []
    for k in sorted(set(before) | set(after)):
        b, a = before.get(k, 0.0), after.get(k, 0.0)
        if a == b:
            continue
        rel = (a - b) / abs(b) if b else float("inf")
        rows.append((k, b, a, a - b, rel))
    # a metric that appears from 0 ranks as a 100% move
    return sorted(rows, key=lambda r: (-min(abs(r[4]), 1.0), r[0]))


def fmt(rel):
    return "new" if rel == float("inf") else f"{rel:+.1%}"


def main():
    ap = argparse.ArgumentParser(description="per-layer movers between two traced benchmark runs")
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--top", type=int, default=8)
    a = ap.parse_args()
    before, after = records(a.before), records(a.after)
    common = sorted(set(before) & set(after))
    if not common:
        sys.exit("layer_diff: no workload has traced runs on both sides")
    for w in common:
        bl, bq, bo = combine(before[w])
        al, aq, ao = combine(after[w])
        print(f"== {w}  ({len(before[w])} vs {len(after[w])} traced runs)")
        print("  per-layer metrics that moved most:")
        for k, b, x, d, rel in moved(bl, al)[:a.top]:
            print(f"    {LAYER_OF.get(k, '?'):10s} {k:26s} {b:12.4f} -> {x:12.4f}  ({fmt(rel)})")
        lat = [(q, aq[q].get("latency_s", 0.0) - bq[q].get("latency_s", 0.0))
               for q in sorted(set(bq) & set(aq))]
        print("  queries whose warm latency moved most (per pass, s):")
        for q, d in sorted(lat, key=lambda t: -abs(t[1]))[:a.top]:
            print(f"    {q:32s} {bq[q].get('latency_s', 0.0):8.4f} -> "
                  f"{aq[q].get('latency_s', 0.0):8.4f}  ({d:+.4f})")
            parts = [r for r in moved(bq[q], aq[q]) if r[0] != "latency_s"]
            parts.sort(key=lambda r: -abs(r[3]))
            for k, b, x, dd, rel in parts[:4]:
                print(f"        {k:28s} {b:10.4f} -> {x:10.4f}  ({dd:+.4f})")
        if bo and ao:
            print("  tracing overhead (traced minus untraced e2e):")
            for k in sorted(set(bo) & set(ao)):
                print(f"    {k:26s} {bo[k]:+12.4f} -> {ao[k]:+12.4f}")


if __name__ == "__main__":
    main()
