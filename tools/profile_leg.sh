#!/bin/bash
# Profile one crawl-bench leg in an isolated child JVM (same launch shape as
# Bench.crawlBenchIsolated): tools/profile_leg.sh <cores> <hosts> <pages> [out]
set -u
CORES=$1; HOSTS=$2; PAGES=$3; OUT=${4:-/tmp/profile_leg_${CORES}_${PAGES}.log}
CP="/root/repo/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
SPARK_GRAFT_BENCH_ONLY_CRAWL=1 \
SPARK_GRAFT_BENCH_CORES=$CORES \
SPARK_GRAFT_BENCH_PAGES=$PAGES \
SPARK_GRAFT_BENCH_HOSTS=$HOSTS \
SPARK_GRAFT_SHUFFLE_PARTS=$CORES \
GRAFT_CYCLE_TIMING=1 \
java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-8g} ${EXTRA_JVM:-} \
  -Dspark.ui.enabled=false -cp "$CP" graft.Bench >"$OUT" 2>&1
grep -E "CRAWLRUN|phase|cycles " "$OUT" | tail -40
