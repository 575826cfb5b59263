#!/bin/bash
# Run a graft main class with the driver's exact JVM flags/classpath.
# Usage: tools/jrun.sh <MainClass> [args...]
#   env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS (default 32)
cd "$(dirname "$0")/.."
OPENS=$(for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do echo --add-opens java.base/$p=ALL-UNNAMED; done)
MAIN=$1; shift
exec java $OPENS -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "graft.$MAIN" "$@"
