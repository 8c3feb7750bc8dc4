#!/usr/bin/env python3
"""Compare two traced runs layer by layer.

    python3 cdcbench/tracediff.py .bench_build/traces/A.json .bench_build/traces/B.json

Prints, for each span name, the self time and total time per trigger in
both runs, then every per-layer metric, each with B - A and B / A. Per
trigger numbers are used so runs of different lengths compare."""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def ratio(a, b):
    return f"{b / a:8.3f}" if a else "       -"


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = load(argv[1]), load(argv[2])
    if a["workload"] != b["workload"]:
        print(f"note: comparing {a['workload']} with {b['workload']}")
    ta = a["metrics"]["trigger.count"] or 1
    tb = b["metrics"]["trigger.count"] or 1
    print(f"{'layer (ms per trigger)':32s} {'self A':>10s} {'self B':>10s} {'B-A':>10s} {'B/A':>8s}"
          f" {'total A':>10s} {'total B':>10s}")
    for name in sorted(set(a["layers"]) | set(b["layers"])):
        la = a["layers"].get(name, {"self_ms": 0.0, "total_ms": 0.0})
        lb = b["layers"].get(name, {"self_ms": 0.0, "total_ms": 0.0})
        sa, sb = la["self_ms"] / ta, lb["self_ms"] / tb
        print(f"{name:32s} {sa:10.2f} {sb:10.2f} {sb - sa:10.2f} {ratio(sa, sb)}"
              f" {la['total_ms'] / ta:10.2f} {lb['total_ms'] / tb:10.2f}")
    print()
    print(f"{'metric':32s} {'A':>14s} {'B':>14s} {'B-A':>14s} {'B/A':>8s}")
    for name in sorted(set(a["metrics"]) | set(b["metrics"])):
        va, vb = a["metrics"].get(name, 0.0), b["metrics"].get(name, 0.0)
        print(f"{name:32s} {va:14.3f} {vb:14.3f} {vb - va:14.3f} {ratio(va, vb)}")


if __name__ == "__main__":
    main(sys.argv)
