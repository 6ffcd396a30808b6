#!/bin/bash
# Run one of the five graft mains straight from the compiled classes,
# bypassing sbt — lets measurements run while sbt holds the project lock
# (test suite, compile). The mains, which share one session profile
# (graft.util.Harness.session):
#   graft.Bench    timed suite, one JSON summary line on stdout
#   graft.Verify   <sfDir> <outDir>: per-query parquet + oracle_sql.json
#   graft.RunOne   <query> [k=v ...]: one query with its rows
#   graft.Explain  <query ...> [k=v ...]: formatted physical plans
#   graft.ScaleUp  <srcDir> <outDir> <factor> [tables]: corpus replica
# Compile first:
#   sbt -batch compile
# Env: SPARK_DRIVER_MEM (default 8g) and the usual SPARK_GRAFT_* knobs.
set -euo pipefail
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
