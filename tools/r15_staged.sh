#!/bin/bash
# Round-15 sf100 stage 2 (VERDICT r14 task 5): flip the four
# DuckDB-side disk bounds with the staged CTE replayer.
#
# The four r14 bounds all die materializing the whole oracle chain at
# once (22 label-propagation rounds of 5M rows for the component
# queries; the ~200M-candidate rerank join for the scaled near-dup
# family). tools/oracle_staged.py replays the SAME registered SQL as
# per-CTE temp tables with eager drops after each table's last
# reference (peak ~2 propagation rounds instead of 22) and chunks the
# rerank stage by candidate id (complete groups per slice). Math
# untouched; hash compared with the driver's canonicalization.
#
# Spark side first (the outputs the replays compare against), then one
# staged replay per query with spill wiped in between.
set -u
cd /root/repo
. tools/scratch_guard.sh
jar cf /tmp/graft-classes.jar -C target/scala-2.13/classes .
JAR=/tmp/graft-classes.jar
SF=target/scale/sf100
OUT=target/scale/verify_r15_sf100
LOG=target/scale/r15_staged.out
ERR=target/scale/r15_staged.err

: > "$LOG"; : > "$ERR"

QS=dedup_drop_components,dedup_keep_best_components
QS2=embedding_near_dup_scaled,semantic_dedup_scaled

spark_batch () {
  local qs=$1 tag=$2
  scratch_guard 30 >> "$LOG" 2>&1 || { echo "R15_ABORT_DISK_$tag" >> "$LOG"; exit 1; }
  echo "=== spark $tag $(date +%T) ===" >> "$ERR"
  env SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ONLY="$qs" \
  /opt/spark/bin/spark-submit --master local[32] --driver-memory 96g \
    --conf spark.local.dir=/root/repo/target/spark-tmp \
    --conf spark.sql.shuffle.partitions=64 \
    --class graft.Verify "$JAR" "$SF" "$OUT" 2>>"$ERR" \
    || { echo "R15_SPARK_FAIL_$tag" >> "$LOG"; exit 1; }
}

spark_batch "$QS" S1
spark_batch "$QS2" S2

for q in ${QS//,/ } ${QS2//,/ }; do
  scratch_guard 25 >> "$LOG" 2>&1 || { echo "R15_ABORT_DISK_$q" >> "$LOG"; exit 1; }
  echo "=== staged $q $(date +%T) ===" >> "$LOG"
  timeout 5400 python3 tools/oracle_staged.py "$SF" "$OUT" "$q" >> "$LOG" 2>&1 \
    || echo "$q {\"status\": \"timeout\", \"err\": \"staged replay exceeded 5400s\"}" >> "$LOG"
  rm -rf target/spark-tmp/duck
done

echo R15_STAGE2_DONE >> "$LOG"
echo R15_STAGE2_DONE
