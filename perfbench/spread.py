#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

Usage: python3 perfbench/spread.py [--json <summary.json>] <record.json>...

Reads run records (the files `run.py` writes under `perfbench/out/`),
groups them by workload and prints, per metric, the median, the quartiles
and the spread: the distance between the quartiles as a share of the
median, as `statistics.quantiles(values, n=4)` gives them.
"""
import json
import statistics
import sys
from collections import defaultdict


def main():
    args = sys.argv[1:]
    out = None
    if args[:1] == ["--json"]:
        out, args = args[1], args[2:]
    runs = defaultdict(list)
    for path in args:
        with open(path) as fh:
            rec = json.load(fh)
        runs[rec["env"]["workload"]].append(rec["result"]["metrics"])
    report = {}
    for workload, results in sorted(runs.items()):
        report[workload] = {}
        for name in results[0]:
            values = [r[name]["value"] for r in results]
            med = statistics.median(values)
            q1, _, q3 = statistics.quantiles(values, n=4)
            report[workload][name] = {
                "n": len(values), "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else float("nan"),
                "values": values}
            print(f"{workload:16s} {name:28s} n={len(values):2d} median={med:12.4f} "
                  f"spread={(q3 - q1) / med if med else float('nan'):.4f}")
    if out:
        with open(out, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
