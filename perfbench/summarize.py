#!/usr/bin/env python3
"""Summarizes the run reports in perfbench/out/.

    python3 perfbench/summarize.py [WORKLOAD ...]

For each workload and end-to-end metric of the untraced runs: the
median, the spread (distance between the first and third quartile as a
share of the median) and the run count, next to the metric's bound in
BENCHMARK.json. For the traced runs: self time per layer and the
tracing overhead (traced minus untraced warm_s).
"""
import json
import os
import statistics
import sys

import run


def spread(values):
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    reports = []
    for name in sorted(os.listdir(run.OUT)):
        if name.endswith(".json") and not name.endswith(".spans.json"):
            with open(os.path.join(run.OUT, name)) as f:
                reports.append(json.load(f))
    workloads = sys.argv[1:] or sorted({r["workload"] for r in reports})
    for w in workloads:
        plain = [r for r in reports if r["workload"] == w and not r["trace"]]
        traced = [r for r in reports if r["workload"] == w and r["trace"]]
        print(f"== {w}: {len(plain)} untraced runs, {len(traced)} traced; "
              f"failed {sum(r['failed'] for r in plain + traced)} of "
              f"{sum(r['attempted'] for r in plain + traced)} query runs")
        for m, bound in bounds.items():
            vals = [r["end_to_end"][m] for r in plain]
            if vals:
                s = spread(vals)
                flag = "" if s < bound / 3 or m == "setup_s" else "  <-- above bound/3"
                print(f"  {m:14s} median {statistics.median(vals):10.4f}  spread {s:6.3f}"
                      f"  bound {bound:.2f}{flag}")
        for r in traced:
            print(f"  traced seed {r['seed']}: overhead {json.dumps(r['tracing_overhead'])}")
            for layer, v in r["self_ms"].items():
                print(f"    self {layer:6s} cold {v['cold']:10.1f} ms  warm {v['warm']:10.1f} ms")


if __name__ == "__main__":
    main()
