#!/bin/bash
# Full-protocol bench sweep: min-of-3, sf0.1, local[all host cores]
# (SPARK_GRAFT_CPUS overrides), idle machine. The heap is half of MemTotal,
# at least 2 GiB (SPARK_DRIVER_MEM overrides, e.g. 8g).
# Usage: tools/bench.sh [out.json] [err.log]
# Honors SPARK_GRAFT_BENCH_ONLY / SPARK_GRAFT_BENCH_OUT pass-through.
set -u
cd "$(dirname "$0")/.."
OUT="${1:-/tmp/bench_sweep.json}"
ERR="${2:-/tmp/bench_sweep.err}"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED \
--add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
--add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
--add-opens=java.base/java.io=ALL-UNNAMED \
--add-opens=java.base/java.net=ALL-UNNAMED \
--add-opens=java.base/java.nio=ALL-UNNAMED \
--add-opens=java.base/java.util=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
--add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
--add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
--add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
--add-opens=java.base/sun.security.action=ALL-UNNAMED \
--add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_BENCH_REPS="${SPARK_GRAFT_BENCH_REPS:-3}" \
java "-Xmx$HEAP" $OPENS \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench > "$OUT" 2> "$ERR"
echo "exit=$? out=$OUT err=$ERR"
