#!/usr/bin/env python3
"""Compare two benchmark records written by perfbench/run.py.

    python3 perfbench/compare.py <before.json> <after.json>

The records live in `.bench_build/results/`. Two records are comparable
only when they were measured the same way: same workload, CPU count,
local[N] master, heap, JVM, Spark, input tables, run length and trace
mode. Otherwise this refuses (exit 2) and names the differing stamp
fields. Source hash and seed may differ; they are what a comparison is
for.
"""
import json
import sys

SAME = ("workload", "nproc", "master", "xmx", "max_heap_mb", "java", "spark", "data",
        "seconds", "trace")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = (json.load(open(p)) for p in sys.argv[1:])
    differ = [k for k in SAME if before["stamp"].get(k) != after["stamp"].get(k)]
    if differ:
        for k in differ:
            print(f"stamp {k}: {before['stamp'].get(k)!r} vs {after['stamp'].get(k)!r}",
                  file=sys.stderr)
        sys.exit(2)
    print(f"{'metric':32} {'before':>14} {'after':>14} {'after/before':>13}")
    for name, m in before["metrics"].items():
        a = m["value"]
        b = after["metrics"].get(name, {}).get("value")
        ratio = f"{b / a:13.3f}" if b is not None and a else f"{'-':>13}"
        print(f"{name:32} {a:14.4f} {b if b is not None else float('nan'):14.4f} {ratio}"
              f" {m['unit']}")


if __name__ == "__main__":
    main()
