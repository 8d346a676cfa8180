#!/usr/bin/env python3
"""Self-test of the benchmark on the bundled sf0.001 tables.

    python3 perfbench/selftest.py

Checks, each by running perfbench/run.py:
  - an untraced run prints every end-to-end metric of BENCHMARK.json
    with its unit, each a positive number;
  - a traced run of the shuffling join q07 prints every per-layer metric
    with its unit, with non-zero job, stage, task, executor and plan
    counts, and the tracing overhead;
  - an operation forced to fail is counted in `failed`, and the run is
    reported as not correct;
  - a workload name that is not in SparkEntry.queries makes the run fail
    instead of shrinking the workload;
  - every workload of BENCHMARK.json reports its tracing overhead.
Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = os.path.join(HERE, "data", "sf0.001")


def run(*args, expect_ok=True):
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--data", TINY,
                           "--seed", "7", *args], cwd=ROOT, capture_output=True, text=True)
    if not expect_ok:
        return proc
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        sys.exit(f"FAIL: run.py {' '.join(args)} exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    out = run("--workload", "light-sweep", "--ops", "q07_join_inner", "--seconds", "1",
              "--trace", "0")
    for m in bench["end_to_end"]:
        got = out["metrics"].get(m["name"], {})
        check(got.get("unit") == m["unit"] and got.get("value", 0) > 0,
              f"end-to-end {m['name']} = {got.get('value')} {got.get('unit')}")
    check(out["correct"] and out["failed"] == 0, "q07 output matches its oracle")

    out = run("--workload", "light-sweep", "--ops", "q07_join_inner", "--seconds", "1",
              "--trace", "1", "--inject-failure")
    metrics = out["metrics"]
    for m in bench["per_layer"]:
        got = metrics.get(m["name"], {})
        check(got.get("unit") == m["unit"] and isinstance(got.get("value"), (int, float)),
              f"per-layer {m['name']} = {got.get('value')} {got.get('unit')}")
    for name in ("sched.jobs", "sched.stages", "sched.tasks", "exec.task_s",
                 "exec.input_rows", "plans.nodes", "plans.exchanges", "shuffle.write_mb",
                 "shuffle.read_mb"):
        check(metrics[name]["value"] > 0, f"q07 traced {name} > 0")
    check(out["failed"] >= 2 and not out["correct"],
          f"forced failure counted: failed {out['failed']} of {out['attempted']}")

    proc = run("--workload", "light-sweep", "--ops", "q07_join_inner,q999_not_a_query",
               "--seconds", "1", "--trace", "0", expect_ok=False)
    check(proc.returncode != 0 and '"correct"' not in proc.stdout,
          "an unknown operation name fails the run")

    for w in bench["workloads"]:
        out = run("--workload", w["name"], "--seconds", "1", "--trace", "1")
        check("trace.overhead_pct" in out["metrics"] and out["correct"],
              f"{w['name']}: tracing overhead {out['metrics']['trace.overhead_pct']['value']:.1f}%")


if __name__ == "__main__":
    main()
