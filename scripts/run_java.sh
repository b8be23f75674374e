#!/bin/bash
# Run any graft main (graft.Bench, graft.Verify, graft.harness.PlanDump)
# from a compiled classes snapshot with plain java: no sbt involvement, so
# edits/compiles in the working tree cannot disturb a running measurement,
# and two class snapshots can alternate in one calm window. A missing
# snapshot dir is first filled with a copy of target/scala-2.13/classes.
# Usage: run_java.sh <snapshot_dir> <mainClass> [args...]
#   e.g. run_java.sh /tmp/snap_a graft.Bench search_bm25_topk > a.json
# Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: every core) and the
# SPARK_GRAFT_BENCH_* knobs pass through; SPARK_DRIVER_MEM sets -Xmx (8g).
set -euo pipefail
SNAP="$1"; MAIN="$2"; shift 2
if [ ! -d "$SNAP" ]; then
  mkdir -p "$SNAP"
  cp -a target/scala-2.13/classes/. "$SNAP/"
fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$SNAP:/opt/spark/jars/*" "$MAIN" "$@"
