#!/usr/bin/env bash
# Run a graft main (graft.Verify, graft.Bench, graft.Profile,
# graft.ScaleStress, ...) directly on the compiled classes +
# /opt/spark/jars, outside sbt. Session settings (UI off, UTC) come
# from graft.Sessions.
# Usage: tools/run_main.sh graft.ScaleStress all
#        tools/run_main.sh graft.Profile q_scan_filter --passes 2 --plans /tmp/plans
#        SPARK_GRAFT_SF_DIR=target/scalestress/x10 tools/run_main.sh graft.Profile q_a,q_b
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-48g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
