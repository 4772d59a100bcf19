#!/bin/bash
# Clean-bench runner: bare JVM so the artifact's other_jvms preflight
# is honest (an sbt server would count). Compile first (sbt compile),
# then stop every sbt/java process, wait for load < the gate, and run:
#
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_BENCH_REPEAT=2 \
#     bash tools/bench_clean.sh graft.Bench > bench_official1.json
#
# The graft.Bench line carries each key's layer profile (the `profile`
# block: jobs, stages, executor time, shuffle, spill and call sites per
# key), so the artifact explains its own walls.
#
# Any main (graft.Bench, graft.ScaleCurve) can be passed; args after
# the main name are forwarded.
set -euo pipefail
MAIN="${1:-graft.Bench}"
shift || true
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS "-Xmx${SPARK_DRIVER_MEM:-96g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$MAIN" "$@"
