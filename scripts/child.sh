#!/bin/bash
# Run graft.BenchChild directly (mirrors Bench.childCmd) for profiling.
# usage: child.sh <mode> <cores> [extra java -D flags via JFLAGS env]
# The heap is SPARK_DRIVER_MEM (default 2g), as for sbt-launched runs.
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADDOPENS="$ADDOPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
exec java $ADDOPENS -Xmx"${SPARK_DRIVER_MEM:-2g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -DSPARK_LOCAL_DIRS_OVERRIDE=/dev/shm/graft-spark/bench \
  -DSPARK_BENCH_ARTIFACTS=/dev/shm/graft-spark/bench-artifacts \
  $JFLAGS -cp "$CP" graft.BenchChild "$@"
