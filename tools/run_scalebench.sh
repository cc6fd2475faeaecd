#!/bin/bash
# Run graft.ScaleBench outside sbt (same JVM flags build.sbt injects) on
# this checkout's compiled classes (`sbt compile` first).
# Usage: run_scalebench.sh <replicas> <scaleDir> [query ...]
#   Query names default to ScaleBench's Headline set; SPARK_GRAFT_SF_DIR,
#   SPARK_GRAFT_RUNS and SPARK_GRAFT_CPUS pass through.
# stdout is the one JSON line; the JVM's log and errors go to stderr.
set -euo pipefail
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
export SPARK_GRAFT_REPLICAS="$1" SPARK_GRAFT_SCALE_DIR="$2"
shift 2
# the Spark jars sit where build.sbt's unmanagedBase says
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
CP="$ROOT/target/scala-2.13/classes:$JARS/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" \
  graft.ScaleBench "$@" < /dev/null
