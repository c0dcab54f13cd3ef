#!/usr/bin/env bash
# Run a graft main class without sbt startup overhead.
# Usage: tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
set -euo pipefail
cd "$(dirname "$0")/.."
# GRAFT_CLASSES overrides the class dir — used for interleaved before/after
# A/B runs against a snapshot of the previous round's compiled classes
CLASSES="${GRAFT_CLASSES:-target/scala-2.13/classes}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# session settings (UTC, no UI) come from graft.GraftSession
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-32g}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
