#!/bin/bash
# Run a graft main class against a SNAPSHOT jar, outside sbt — so long
# bench/probe JVMs don't contend for sbt's target lock and keep running
# while sbt compiles. Snapshot first:
#   sbt -batch package && cp target/scala-2.13/weatherdataingestiongcpspark_2.13-0.1.0.jar target/graft-snapshot.jar
# Then:
#   SPARK_DRIVER_MEM=24g scripts/runjvm.sh graft.Probe q01_pricing_summary <sfDir> reps=2
# The JVM flags mirror build.sbt's forked-run options (Spark 4 on JDK 17
# needs the add-opens set when SparkSession is built outside spark-submit).
set -euo pipefail
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Dspark.sql.codegen.cache.maxEntries=5000 \
  -cp "/root/repo/target/graft-snapshot.jar:/opt/spark/jars/*" \
  "$@"
