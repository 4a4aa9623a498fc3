#!/bin/bash
# Multi-JVM cluster smoke: run the identical 101-query pack under
# local-cluster[2,16,8g] — 2 separate EXECUTOR JVMs launched by the
# standalone worker path — then DuckDB-check the outputs. Catches
# driver-locality assumptions local[n] can't (task-side lambdas
# capturing session state, broadcast serialization, closure capture).
#
#   tools/cluster_smoke.sh [outdir] [--bench]
#
# Setup facts this script encodes (cost a debug cycle to find, r13):
#  - executor launch needs SPARK_SCALA_VERSION exported, or Spark's
#    command builder throws "Cannot find any build directories"
#  - executors need the repo classes via spark.executor.extraClassPath
#    and the same --add-opens set via spark.executor.extraJavaOptions
set -euo pipefail
cd "$(dirname "$0")/.."
OUT="${1:-/tmp/graft_cluster_smoke}"
SF001="${SPARK_GRAFT_SF001:-/root/testdata/sf0.01}"
SF01="${SPARK_GRAFT_SF01:-/root/testdata/sf0.1}"
CLASSES="$PWD/target/scala-2.13/classes:$PWD/target/scala-2.13/test-classes"
mkdir -p "$OUT"

ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
export SPARK_SCALA_VERSION=2.13

run_cluster() { # main-class args...
  SPARK_GRAFT_MASTER="local-cluster[2,16,8192]" SPARK_GRAFT_CPUS=32 \
  java $ADDOPENS \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -Dspark.executor.memory=7g \
    -Dspark.executor.extraClassPath="$CLASSES" \
    -Dspark.executor.extraJavaOptions="$ADDOPENS" \
    -Xmx16g -cp "/opt/spark/jars/*:$CLASSES" "$@"
}

echo "== cluster smoke 1/2: Verify @ sf0.01 under local-cluster[2,16,8g] =="
rm -rf "$OUT/verify"
run_cluster graft.Verify "$SF001" "$OUT/verify" >"$OUT/verify.log" 2>&1 || {
  tail -20 "$OUT/verify.log"; echo "SMOKE RED: Verify failed"; exit 1; }
python3 tools/check_oracle.py "$SF001" "$OUT/verify" | tee "$OUT/correctness.log"
grep -q " 0 fail" "$OUT/correctness.log" || { echo "SMOKE RED: oracle mismatches"; exit 1; }

if [[ "${2:-}" == "--bench" ]]; then
  echo "== cluster smoke 2/2: Bench @ sf0.1 under local-cluster[2,16,8g] =="
  SPARK_GRAFT_SF_DIR="$SF01" run_cluster graft.Bench >"$OUT/bench.raw" 2>&1 || {
    tail -20 "$OUT/bench.raw"; echo "SMOKE RED: bench failed"; exit 1; }
  grep '^{"metric"' "$OUT/bench.raw" | tail -1 >"$OUT/bench.json"
  cat "$OUT/bench.json"
fi
echo "SMOKE GREEN — artifacts in $OUT"
