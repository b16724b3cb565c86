#!/bin/bash
# sf100 knob-attribution rerun: same queries as bench_sf100.sh B1/B2 but
# with shuffle partitions sized for 600M-row shuffles (256 ~ 100-200MB
# per partition) and 32MB input splits (the events table is ONE 1.2GB
# parquet file -> only ~10 scan tasks at the 128MB default).
set -u
LOG=/root/repo/target/scale/bench_sf100_tuned.log
: > "$LOG"
B1=q1_pricing_summary,q3_top_order_revenue,q5_region_nation_revenue,q18_large_volume_customers,orders_monthly_counts
B2=scd2_customer_status_history,rolling_user_features,events_hourly,sessionize_native,asof_native_exec,interval_join_bucketed,skew_salted_join
for B in $B1 $B2; do
  echo "=== batch $B ===" >> "$LOG"
  SPARK_GRAFT_SF_DIR=/root/repo/target/scale/sf100 SPARK_GRAFT_CPUS=32 SPARK_GRAFT_REPEAT=1 \
  SPARK_GRAFT_ONLY="$B" \
  /opt/spark/bin/spark-submit --master local[32] --driver-memory 96g \
    --conf spark.local.dir=/root/repo/target/spark-tmp \
    --conf spark.sql.shuffle.partitions=256 \
    --conf spark.sql.files.maxPartitionBytes=32m \
    --class graft.Bench /tmp/graft-classes.jar 2>/dev/null \
    | grep '"metric"' >> "$LOG"
done
echo TUNEDDONE >> "$LOG"
