#!/bin/bash
# Run a graft main class with the Spark classpath + JDK17 add-opens,
# on the classes compiled in this script's own checkout:
#   scripts/run_main.sh graft.tools.Probe [args...]
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
