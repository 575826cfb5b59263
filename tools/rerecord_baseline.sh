#!/bin/bash
# 8-sample full-Bench BASELINE record (one session, sequential).
# Each sample is the exact driver program (graft.Bench, min-of-2 per
# query); detail snapshots land in /tmp/bench_sample_N.json for
# tools/baseline_agg.py.
cd "$(dirname "$0")/.."
OPENS=$(for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do echo --add-opens java.base/$p=ALL-UNNAMED; done)
for i in $(seq 1 8); do
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 SPARK_GRAFT_BENCH_BUDGET_S=3000 \
    java $OPENS -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench \
    > /tmp/bench_run_$i.log 2>/dev/null
  cp BENCH_DETAIL.json /tmp/bench_sample_$i.json
  tail -1 /tmp/bench_run_$i.log
done
