#!/bin/bash
# Fast standalone launcher for graft mains (Verify/Bench/BenchOne...)
# bypassing sbt runMain (~2 min faster). Usage:
#   tools/run_graft.sh graft.Verify /root/testdata/sf0.01 /tmp/vout [prefix]
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx96g -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes":"/opt/spark/jars/*" "$@"
