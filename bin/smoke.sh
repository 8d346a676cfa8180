#!/usr/bin/env bash
# Local classpath smoke for the container entrypoint: builds the thin
# app jar (`sbt package` — the same artifact the Dockerfile COPYs) and
# launches graft.Main exactly as the image's spark-submit would, but
# via java -cp against the host's /opt/spark/jars (this sandbox has no
# docker daemon; the image build itself is exercised in CI/CD).
# Usage: bin/smoke.sh [data-dir] [out-dir]
set -euo pipefail
cd "$(dirname "$0")/.."

DATA="${1:-/root/testdata/sf0.001}"
OUT="${2:-$(mktemp -d /tmp/graft-smoke.XXXXXX)}"

sbt -batch package >/dev/null

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

java -cp "$JAR:$SPARK_JARS" "${ADD_OPENS[@]}" -Dspark.ui.enabled=false \
  graft.Main --list
# submitted conf must win over graft's defaults (local[SPARK_GRAFT_CPUS]);
# the run gets an empty java.io.tmpdir that must be empty again at exit
LOG="$(mktemp /tmp/graft-smoke-log.XXXXXX)"
JTMP="$(mktemp -d /tmp/graft-smoke-tmp.XXXXXX)"
java -cp "$JAR:$SPARK_JARS" "${ADD_OPENS[@]}" -Dspark.ui.enabled=false \
  -Dspark.master='local[2]' -Dspark.sql.shuffle.partitions=3 -Djava.io.tmpdir="$JTMP" \
  graft.Main --data-dir "$DATA" --out "$OUT" --jobs webcompat-kb,llm-prep 2>&1 | tee "$LOG"
left="$(ls -A "$JTMP")"
rmdir "$JTMP" 2>/dev/null || true
[ -z "$left" ] || { echo "smoke FAILED — graft.Main left scratch in java.io.tmpdir: $left" >&2; exit 1; }
conf="$(grep -m1 '^\[graft\] master=' "$LOG" || true)"
rm -f "$LOG"
case "$conf" in
  *"master=local[2] shuffle.partitions=3 "*graft.GraftExtensions*) ;;
  *) echo "smoke FAILED — submitted conf did not win: '$conf'" >&2; exit 1 ;;
esac
find "$OUT" -name "_SUCCESS" | sort
# webcompat-kb writes 1 table and llm-prep 7, the latter concurrently
n="$(find "$OUT" -name "_SUCCESS" | wc -l)"
[ "$n" -eq 8 ] || { echo "smoke FAILED — expected 8 output tables, found $n" >&2; exit 1; }
echo "smoke OK — 8 output tables"
