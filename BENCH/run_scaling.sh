#!/bin/bash
# Two-cluster-size scaling evidence for one campaign of graft.scaling.Runner
# (flagship, stream, dedup, tok, ann, ev, batch): the same job on the same
# corpus at N and 4N cores, each in its own JVM, then the cross-level
# equality check, the verification pass and the report.
#
#   bash BENCH/run_scaling.sh CAMPAIGN SIZE [N]      N defaults to nproc/4
#   bash BENCH/run_scaling.sh CAMPAIGN SIZE audit    one run + verification
#
# Build first with `sbt -batch package`. Fragments and the report go to
# /tmp/graft-scaling/CAMPAIGN-SIZE.*; corpora stay cached on /dev/shm.
#
# The bench-JVM survival rules, each of which cost a multi-hour run:
# - gen, each level and combine get a JVM of their own: a stopped
#   SparkSession's executor heartbeat thread System.exits its JVM later.
# - -XX:ActiveProcessorCount = the level, so GC/JIT/fork-join threads are
#   sized like a real node of that many cores.
# - heap -Xms = -Xmx = min(16g, MemTotal/2): a 40g heap at 8 GC threads
#   produced full-GC storms that starved executor heartbeats; -Xms keeps
#   heap growth out of the first timed run.
# - heartbeatInterval=30s, network.timeout=600s: headroom for GC pauses.
# - ReservedCodeCacheSize=1g, -DontCompileHugeMethods: repeated runs
#   generate fresh codegen classes; a full default code cache silently
#   stops the JIT and stages run interpreted 10-40x slower.
# - corpus and shuffle on /dev/shm: the virtio disk sporadically degrades
#   to ~1 MB/s and bills 300 s cold reads to random trials.
set -euo pipefail
CAMPAIGN="$1"
SIZE="$2"
CORES="$(nproc)"
N="${3:-$(( CORES / 4 > 0 ? CORES / 4 : 1 ))}"
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152); print (g > 16 ? 16 : g < 1 ? 1 : g) "g"}' /proc/meminfo)"
JAR="target/scala-2.13/hotdogspark_2.13-0.1.0.jar"
OUT="/tmp/graft-scaling/$CAMPAIGN-$SIZE"
mkdir -p /dev/shm/graft-shuffle /tmp/graft-scaling

submit() { # submit CORES MODE ARGS...
  local cores="$1"; shift
  "${SPARK_HOME:?set SPARK_HOME to the Spark distribution}/bin/spark-submit" --master "local[$cores]" --driver-memory "$HEAP" \
    --driver-java-options "-Xms$HEAP -XX:ActiveProcessorCount=$cores -XX:ReservedCodeCacheSize=1g -XX:-DontCompileHugeMethods" \
    --conf spark.local.dir=/dev/shm/graft-shuffle \
    --conf spark.executor.heartbeatInterval=30s --conf spark.network.timeout=600s \
    --class graft.scaling.Runner "$JAR" "$@"
}

submit "$CORES" gen "$CAMPAIGN" "$SIZE"
if [ "$N" = audit ]; then
  submit "$CORES" audit "$CAMPAIGN" "$SIZE" "$OUT.md"
  exit 0
fi
submit "$N" level "$CAMPAIGN" "$SIZE" "$N" "$OUT-$N.json"
submit $(( 4 * N )) level "$CAMPAIGN" "$SIZE" $(( 4 * N )) "$OUT-$(( 4 * N )).json"
submit "$CORES" combine "$CAMPAIGN" "$SIZE" "$OUT-$N.json" "$OUT-$(( 4 * N )).json" "$OUT.md"
