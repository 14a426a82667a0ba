"""Run-to-run spread of benchmark results.

Reads result lines (the last stdout line of `perfbench/run.py`, one per
line, optionally prefixed by `<workload> <seed> <seconds>`) and prints,
per workload and metric, the median and the interquartile range as a
share of the median — the figure the bounds in BENCHMARK.json cap:

    python3 perfbench/spread.py results.txt
"""
import collections
import json
import statistics
import sys


def main(path):
    values = collections.defaultdict(list)
    for line in open(path):
        brace = line.find("{")
        if brace < 0:
            continue
        head = line[:brace].split()
        workload = head[0] if head else "-"
        res = json.loads(line[brace:])
        if not res.get("correct", False):
            print(f"{workload}: a run was not correct: {line.strip()[:200]}")
        for name, m in res["metrics"].items():
            values[(workload, name)].append(m["value"])
    for (workload, name), vs in sorted(values.items()):
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
        else:
            spread = float("nan")
        print(f"{workload:12s} {name:28s} n={len(vs):2d} median={med:14.4f} spread={spread:.3f}")


if __name__ == "__main__":
    main(sys.argv[1])
