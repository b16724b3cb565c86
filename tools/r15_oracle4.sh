#!/bin/bash
# Round-15 sf100 stage 1d (DEFERRED): the cluster-based SemDeDup family
# (semantic_dedup_kmeans{_slice,_agreement,}) that stage 1c cut at the
# 118-minute mark to protect the closing sweep, plus the four staged
# CTE replays (r15_staged.sh) that never started. The kmeans batch is
# the one round-15 addition without sf100 evidence: the Lloyd fit +
# 288-way triangular block-pair join over the 2M-vector corpus ran
# >118 min Spark-side on the recycled box (observed 2800% CPU
# throughout — compute, not a hang; ~2.5e11 64-dim cosine pairs is the
# irreducible within-cluster mass when the 8-list parity fit puts 250k
# vectors in a list). A dedicated run should raise the list count for
# the scale fit (more, smaller clusters -> quadratic mass shrinks as
# 1/k) before re-attempting; the sf0.01 gates are hash-green.
set -u
cd /root/repo
. tools/scratch_guard.sh
jar cf /tmp/graft-classes.jar -C target/scala-2.13/classes .
JAR=/tmp/graft-classes.jar
SF=target/scale/sf100
OUT=target/scale/verify_r15_sf100
LOG=target/scale/r15_oracle4.out
ERR=target/scale/r15_oracle4.err

: > "$LOG"; : > "$ERR"

run_batch () {
  local qs=$1 budget=$2 tag=$3
  scratch_guard 30 >> "$LOG" 2>&1 || { echo "R15_ABORT_DISK_$tag" >> "$LOG"; exit 1; }
  echo "=== spark $tag $(date +%T) ===" >> "$ERR"
  env SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ONLY="$qs" \
  /opt/spark/bin/spark-submit --master local[32] --driver-memory 96g \
    --conf spark.local.dir=/root/repo/target/spark-tmp \
    --conf spark.sql.shuffle.partitions=64 \
    --class graft.Verify "$JAR" "$SF" "$OUT" 2>>"$ERR" \
    || { echo "R15_SPARK_FAIL_$tag" >> "$LOG"; exit 1; }
  echo "=== oracle $tag $(date +%T) ===" >> "$ERR"
  for q in ${qs//,/ }; do
    python3 tools/oracle_budget.py "$SF" "$OUT" "$budget" "$q" >> "$LOG" 2>&1
    rm -rf target/spark-tmp/duck
  done
}

# value gates first, full keep-list last (cut-safe ordering)
run_batch semantic_dedup_kmeans_slice 1800 U1
run_batch semantic_dedup_kmeans_agreement 1800 U2
run_batch semantic_dedup_kmeans 1800 U3

# then the four staged CTE replays from r15_staged.sh
bash tools/r15_staged.sh

echo R15_STAGE1D_DONE >> "$LOG"
echo R15_STAGE1D_DONE
