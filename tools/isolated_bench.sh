#!/usr/bin/env bash
# Isolated per-query bench runs against the PACKAGED jar (java -cp, no
# sbt): one fresh JVM per query at sf0.1/local[nproc] (min-of-2 from 16
# CPUs up, one run below), noop eval —
# the r16 isolated-measurement methodology, decoupled from source edits
# so "before" numbers can be taken while the tree moves on.
# Usage: tools/isolated_bench.sh <outfile-prefix> q1 [q2 ...]
set -euo pipefail
cd "$(dirname "$0")/.."
PREFIX="$1"; shift
JAR="target/scala-2.13/dockeretlspark_2.13-0.1.0.jar"
SPARK_JARS="$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=(
  --add-opens=java.base/java.lang=ALL-UNNAMED
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED
  --add-opens=java.base/java.io=ALL-UNNAMED
  --add-opens=java.base/java.net=ALL-UNNAMED
  --add-opens=java.base/java.nio=ALL-UNNAMED
  --add-opens=java.base/java.util=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED
  --add-opens=java.base/sun.security.action=ALL-UNNAMED
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED
)
for q in "$@"; do
  out="${PREFIX}_${q}.json"
  SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
  SPARK_GRAFT_BENCH_ONLY="$q" \
  SPARK_GRAFT_BENCH_OUT="$out" \
  java -Xmx16g -cp "$JAR:$SPARK_JARS" "${ADD_OPENS[@]}" \
    graft.Bench 2>/dev/null | tail -1
done
