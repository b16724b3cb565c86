#!/bin/bash
# Round-13 closing evidence:
#  (1) full ScalaTest suite,
#  (2) full-surface two-scale parity (sf0.001 + sf0.01) on the
#      247-query registry — the final regression gate over ALL r13
#      oracle rewrites (weighted binned trainer, weighted CV twin,
#      list-based CC MinHash, iterative CC propagation),
#  (3) a full sf0.1 bench sweep for cross-round comparability.
set -u
cd /root/repo

sbt -batch test > target/scale/r13_sbt_test.log 2>&1
tail -4 target/scale/r13_sbt_test.log

jar cf /tmp/graft-classes.jar -C target/scala-2.13/classes .
JAR=/tmp/graft-classes.jar

for sf in 0.001 0.01; do
  env SPARK_GRAFT_CPUS=32 \
  /opt/spark/bin/spark-submit --master local[32] --driver-memory 96g \
    --conf spark.local.dir=/root/repo/target/spark-tmp \
    --conf spark.sql.shuffle.partitions=32 \
    --class graft.Verify "$JAR" /root/testdata/sf$sf \
    target/scale/verify_r13_full_sf$sf 2>>target/scale/r13_full.err
  python3 tools/check_parity.py /root/testdata/sf$sf \
    target/scale/verify_r13_full_sf$sf \
    > target/scale/r13_parity_sf$sf.out 2>&1
  tail -1 target/scale/r13_parity_sf$sf.out
done

env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
/opt/spark/bin/spark-submit --master local[32] --driver-memory 96g \
  --conf spark.local.dir=/root/repo/target/spark-tmp \
  --class graft.Bench "$JAR" 2>>target/scale/r13_bench.err \
  | grep '"metric"' > target/scale/r13_bench_sf01_full.json
cat target/scale/r13_bench_sf01_full.json | head -c 400
echo R13_CLOSE_DONE
