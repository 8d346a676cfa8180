#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
and the harness (`perfbench/harness`, an sbt build that takes the
repository root as a source dependency); later runs reuse the build
from `.bench_build/` until a source file changes. The input tables are
the engine's sf0.01 test tables, bundled in `perfbench/data/sf0.01`.

Each run is one JVM at local[nproc/2], with as many parallel GC threads
and a fixed 2 GiB heap. The other half of the CPUs is left to the JVM's
own threads (JIT, GC, listener bus), the kernel and the host's other
tenants. On a shared 4-vCPU VM, local[nproc] runs were slower than
local[nproc/2] ones and lost several times more CPU time to the host
(steal), because each stage waits for whichever vCPU the host preempts.
The workloads, the query session conf and the operations left out (with
the reason) are in `perfbench/workloads.json`. Set-up is the time from
launching that JVM until it has run every operation once, keeping its
output (the check pass). Timed passes follow, each in a new order drawn
from `--seed` (the seed changes nothing else): as many as fit in
`--seconds` at the workload's nominal pass length (`pass_s`), and at
least three. After the JVM exits, every output is compared with the
engine's DuckDB oracle (`SparkEntry.oracleSql`) by the comparator in
`tools/check_driver.py`; a mismatch counts every execution of that
operation as failed.

Reported times are scaled by the host's speed during the run, measured
with a fixed calibration sort inside the harness (see `host_speed`), and
by the share of CPU time the host stole during each execution (see
`unstolen`); the record keeps the raw times.

With `--trace 0` the last stdout line carries the end-to-end metrics
(`sweep_s`, `cpu_s`, `peak_rss_mb`, `setup_s`); with `--trace 1` it
carries the per-layer metrics, including the tracing overhead measured
against the untraced passes of the same run. The full record of a run,
with its stamp and one per-layer row per traced operation, is kept in
`.bench_build/results/`; `perfbench/compare.py` diffs two records.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
FIRST_RUN_LIMIT_S = 880
RUN_LIMIT_S = 170
HEAP = "2g"  # fixed size, so peak RSS does not swing with heap resizing
# CPU seconds of the harness's calibration sort on the 4-vCPU VM the bounds
# were set on, in a quiet phase of its host; see `host_speed`
CALIBRATION_REF_S = 0.075

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
LISTENERS = {
    "spark.extraListeners": "perfbench.TaskTrace",
    "spark.sql.queryExecutionListeners": "perfbench.PlanTrace",
    "spark.sql.streaming.streamingQueryListeners": "perfbench.StreamTrace",
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of everything the build reads; a change forces a rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "build.properties"))
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(deadline):
    """Compile the engine and the harness once per source state; returns
    the runtime classpath."""
    stamp_file = os.path.join(BUILD, "build.json")
    src = source_hash()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            stamp = json.load(f)
        if stamp["source"] == src and all(
                os.path.exists(p) for p in stamp["classpath"].split(os.pathsep)[:2]):
            return stamp["classpath"], src
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the build resolves only from local caches, never from the network, and
    # its JVMs keep their temporary files in the checkout
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, env=env,
            timeout=max(60, deadline - time.time()))
    with open(log, "a") as out:
        out.write(proc.stdout)
    cps = [line.strip() for line in proc.stdout.splitlines()
           if os.pathsep in line and "harness" in line and not line.startswith("[")]
    if proc.returncode != 0 or not cps:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    with open(stamp_file, "w") as f:
        json.dump({"source": src, "classpath": cps[-1]}, f)
    return cps[-1], src


def run_jvm(cmd, env, log_path, timeout):
    """Exit code of the JVM, or None when it ran out of time; the JVM never
    outlives this call."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def check_outputs(result, wl, run, data):
    """Oracle comparison of the check pass's outputs; returns
    {op: reason} for every operation whose output is wrong."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True  # leave no __pycache__ in the source tree
    import duckdb
    from check_driver import TABLES, canon, read_spark
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = {}
    for name, sql in sorted(result["oracles"].items()):
        try:
            path = (os.path.join(run, "check", name) if wl["mode"] == "queries"
                    else glob.glob(os.path.join(run, "out", f"graft_*_{name}"))[0])
            got = read_spark(path)
            want = con.execute(sql).df()
            if sorted(got.columns) != sorted(want.columns):
                bad[name] = f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
            elif len(got) != len(want):
                bad[name] = f"rows {len(got)} vs {len(want)}"
            elif canon(got) != canon(want):
                diffs = [(a, b) for a, b in zip(canon(got), canon(want)) if a != b][:2]
                bad[name] = f"value mismatch, first diffs {diffs}"
        except Exception as e:  # a crash in either reader is a failed check
            bad[name] = f"check error: {str(e)[:300]}"
    con.close()
    return bad


def cpu_ticks():
    """The VM's busy and stolen CPU ticks since boot (/proc/stat), as the
    harness's `cpuTicks` counts them."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[0] + t[1] + t[2] + t[5] + t[6], t[7] if len(t) > 7 else 0
    except (OSError, ValueError, IndexError):
        return 0, 0


def unstolen(seconds, busy, steal):
    """Elapsed time less the host's share of it: the time scaled by the part
    of the CPU time this VM's vCPUs wanted that the host gave them. On a
    shared host the steal share swings from under 1% to over 30% within
    seconds and between runs, and every stage of a query waits on the vCPUs
    it lands on; what remains is the program's own time."""
    return seconds * busy / (busy + steal) if busy + steal > 0 else seconds


def best_sum(samples, ops, value):
    """Sum over operations of the mean of the lower half of each one's
    `value`s (unstolen time or CPU time): one pass as the program runs it
    when nothing else holds the CPUs. Interference, a collection and the
    JIT's unfinished warm-up only ever add to an execution, so the better
    executions move far less between runs than the median; averaging half
    of them rather than taking the best one smooths the rest. A change that
    slows the program slows every execution."""
    by_op = {op: sorted(value(s) for s in samples if s["op"] == op and s["error"] is None)
             for op in ops}
    return sum(statistics.mean(v[:(len(v) + 1) // 2]) for v in by_op.values() if v)


def unstolen_s(sample):
    return unstolen(sample["seconds"], sample["busy"], sample["steal"])


def host_speed(result):
    """How fast the host runs this VM's vCPUs during the run, relative to
    the reference: the median CPU time of the harness's calibration sort,
    taken three times before each timed pass, over its reference time. On
    a shared host this moves by a third and more over tens of minutes as
    the neighbours' load comes and goes (clock rate, busy sibling
    hyperthreads, shared caches), and every time the program takes moves
    with it; steal does not show it. Times reported in `s` are scaled by
    it, to what they would be on the reference host."""
    return CALIBRATION_REF_S / statistics.median(result["calibration"])


def layer_metrics(result, ops, cpus, names):
    rows = result["trace"]
    out = {}
    for k in names:
        if k in ("exec.busy_ratio", "host.steal_pct", "host.speed", "trace.overhead_pct"):
            continue
        per_op = [[r["metrics"].get(k, 0.0) for r in rows if r["op"] == op] for op in ops]
        per_op = [statistics.median(v) for v in per_op if v]
        out[k] = (max(per_op) if k == "shuffle.skew" else sum(per_op)) if per_op else 0.0
    wall = out.get("wall_s", 0.0)
    out["exec.busy_ratio"] = out["exec.task_s"] / (wall * cpus) if wall else 0.0
    busy = sum(s["busy"] for s in result["samples"])
    steal = sum(s["steal"] for s in result["samples"])
    out["host.steal_pct"] = 100.0 * steal / (busy + steal) if busy + steal else 0.0
    out["host.speed"] = host_speed(result)
    untraced = best_sum([s for s in result["samples"] if not s["traced"]], ops, unstolen_s)
    traced = best_sum([s for s in result["samples"] if s["traced"]], ops, unstolen_s)
    out["trace.overhead_pct"] = 100.0 * (traced - untraced) / untraced if untraced else 0.0
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--inject-failure", action="store_true",
                   help="add one operation that always fails (self-test)")
    p.add_argument("--ops", help="comma-separated operations instead of the workload's (self-test)")
    p.add_argument("--data", default=os.path.join(HERE, "data", "sf0.01"),
                   help="directory of input tables (default: the bundled sf0.01 tables)")
    args = p.parse_args()
    start = time.time()
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}; known: {', '.join(spec['workloads'])}")
    wl = dict(spec["workloads"][args.workload])
    if args.ops:
        wl["ops"] = args.ops.split(",")
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check_driver.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a graft source checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    first = not os.path.exists(os.path.join(BUILD, "build.json"))
    deadline = start + (FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S)
    classpath, src = build(deadline)
    data = os.path.abspath(args.data)
    nproc = len(os.sched_getaffinity(0))
    cpus = max(1, nproc // 2)

    # a fixed number of passes for a given --seconds, so that every run of a
    # workload stops at the same point of the JIT's warm-up
    passes = max(3, int(args.seconds // wl["pass_s"]))

    run = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run, d))
    try:
        sysprops = {"spark.ui.enabled": "false",
                    "spark.local.dir": os.path.join(run, "local"),
                    "spark.sql.warehouse.dir": os.path.join(run, "warehouse")}
        if args.trace:
            sysprops.update(LISTENERS)
        harness_args = [f"mode={wl['mode']}", f"ops={','.join(wl['ops'])}", f"data={data}",
                        f"run={run}", f"seed={args.seed}", f"passes={passes}",
                        f"trace={args.trace}", f"cpus={cpus}",
                        f"fail={1 if args.inject_failure else 0}"]
        if wl["mode"] == "queries":
            harness_args += [f"conf.{k}={v.replace('$CPUS', str(cpus))}"
                             for k, v in spec["query_conf"].items()]
        cmd = (["java", *ADD_OPENS, "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
                f"-XX:ParallelGCThreads={cpus}",
                f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}"]
               + [f"-D{k}={v}" for k, v in sysprops.items()]
               + ["-cp", classpath, "perfbench.Harness", *harness_args])
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
        env["SPARK_GRAFT_CPUS"] = str(cpus)
        log = os.path.join(run, "jvm.log")
        launched = time.time()
        launch_busy, launch_steal = cpu_ticks()
        code = run_jvm(cmd, env, log, timeout=max(30, deadline - time.time()))
        if code != 0 or not os.path.exists(os.path.join(run, "result.json")):
            with open(log, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"harness JVM ended with {'a timeout' if code is None else f'exit {code}'}")
        with open(os.path.join(run, "result.json")) as f:
            result = json.load(f)
        mismatches = check_outputs(result, wl, run, data)
    finally:
        shutil.rmtree(run, ignore_errors=True)

    ops = sorted({s["op"] for s in result["samples"]})
    errors = {}
    for e in result["check_errors"]:
        errors.setdefault(e["op"], e["error"])
    for s in result["samples"]:
        if s["error"] is not None:
            errors.setdefault(s["op"], s["error"])
    errors.update({k: f"oracle mismatch: {v}" for k, v in mismatches.items()})
    # every execution counts, the check pass's and each timed one; an
    # operation with a wrong output failed every time it ran
    wrong = set(mismatches) if wl["mode"] == "queries" else set(ops) if mismatches else set()
    attempted = len(ops) + len(result["samples"])
    failed = len(({e["op"] for e in result["check_errors"]} | wrong) & set(ops))
    failed += sum(1 for s in result["samples"] if s["error"] is not None or s["op"] in wrong)
    print(f"perfbench: {len(result['oracles']) - len(mismatches)} of {len(result['oracles'])} "
          "outputs match their oracle", file=sys.stderr)
    for op, why in sorted(errors.items()):
        print(f"perfbench: FAILED {op}: {why}", file=sys.stderr)

    if args.trace:
        reported = bench["per_layer"]
        values = layer_metrics(result, ops, cpus, [m["name"] for m in reported])
    else:
        reported = bench["end_to_end"]
        speed = host_speed(result)
        values = {
            "sweep_s": speed * best_sum(result["samples"], ops, unstolen_s),
            "cpu_s": speed * best_sum(result["samples"], ops, lambda s: s["cpu"]),
            "peak_rss_mb": result["peak_rss_mb"],
            "setup_s": speed * unstolen(result["ready_ms"] / 1000.0 - launched,
                                        result["ready_busy"] - launch_busy,
                                        result["ready_steal"] - launch_steal),
        }
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in reported}

    stamp = {"workload": args.workload, "nproc": nproc, "master": f"local[{cpus}]",
             "xmx": HEAP, "max_heap_mb": result["max_heap_mb"],
             "java": result["java"], "spark": result["spark"], "source": src,
             "data": os.path.relpath(data, ROOT), "seed": args.seed,
             "seconds": args.seconds, "trace": args.trace}
    record = {"stamp": stamp, "metrics": metrics, "attempted": attempted, "failed": failed,
              "errors": errors, "passes": result["passes"], "measured_s": result["measured_s"],
              "calibration": result["calibration"], "samples": result["samples"],
              "trace": result["trace"]}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(start)}.json"
    with open(os.path.join(BUILD, "results", name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
