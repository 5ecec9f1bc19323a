#!/usr/bin/env python3
"""Summarize repeated benchmark runs: per metric, the median and the
quartile spread (Q3 - Q1) / median, as statistics.quantiles(n=4) gives
them, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py OUT1 OUT2 ...

Each OUT is the saved stdout of one run.py invocation (the last line is
the result object). Runs of different workloads may be mixed; they are
grouped by the workload named in the run record.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    with open(path) as fh:
        lines = [l for l in fh.read().splitlines() if l.startswith("{")]
    record = json.loads(lines[-2])["run_record"]
    record = record.get("untraced", record)
    return record["workload"], json.loads(lines[-1])


def main(paths):
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m.get("bound") for m in json.load(fh)["end_to_end"]}
    runs = defaultdict(list)
    for p in paths:
        workload, result = load(p)
        runs[workload].append(result)
    for workload, results in sorted(runs.items()):
        failed = sum(r["failed"] for r in results)
        print(f"{workload}: {len(results)} runs, {failed} failed operations")
        names = sorted({k for r in results for k in r["metrics"]})
        for name in names:
            vals = [r["metrics"][name]["value"] for r in results
                    if name in r["metrics"]]
            med = statistics.median(vals)
            if len(vals) >= 2 and med:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
            else:
                spread = float("nan")
            bound = bounds.get(name)
            flag = "" if bound is None or spread < bound / 3 else "  <-- wide"
            print(f"  {name:34s} median {med:14.4f}  spread {spread:7.3f}"
                  f"  bound {bound}{flag}")


if __name__ == "__main__":
    main(sys.argv[1:])
