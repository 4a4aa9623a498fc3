#!/bin/bash
# Run a graft main class against the compiled sbt output of the checkout
# this script lives in, without sbt startup overhead:
#   tools/run.sh graft.Verify <args...>
set -e
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-32g} \
  -cp "/opt/spark/jars/*:$ROOT/target/scala-2.13/classes:$ROOT/target/scala-2.13/test-classes" \
  "$@"
