package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Stateful-stream shuffle sizing (r17, guide §2.2): a streaming query's
  * state-store partition count is FIXED at first start from
  * `spark.sql.shuffle.partitions` — AQE never coalesces it, so the
  * session default (one partition per core) materializes one state store
  * per core per stateful operator (FOUR per partition for a stream-stream
  * join) even when the whole state is a few KB. Their fixed open/commit
  * cost per micro-batch then scales with CORE COUNT while the work
  * doesn't: the r16 driver measured interval_join_ordered_stream 35.2 s
  * at 32 cores vs 7.4 s at 8 (scaling ratio 0.21) with identical plans.
  *
  * The scale-correct shape is to derive the count from the DATA, exactly
  * like the sol2/house tiny-frame pins: partitions = ceil(source bytes /
  * advisory partition size), floored at 1. The source size bounds the
  * state (join buffers, dedup keys, window panes are all ≤ the rows that
  * flow in), so at sf0.1 (2 MB events) a stateful query runs 1 state
  * partition per operator, while a 2 GB rung gets ~32 and a 100 TB
  * deployment thousands — partition count follows bytes, not the box.
  */
object Streams {

  /** Total bytes under `path` (file or directory), 0 if absent. */
  def sourceBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Partition count for `bytes` of source data: one per advisory
    * partition size (the same knob AQE sizes batch shuffles with),
    * floored at 1.
    */
  def statePartitions(spark: SparkSession, bytes: Long): Int = {
    val advisory = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    math.max(1L, (bytes + advisory - 1) / advisory).toInt
  }

  /** Pins `spark.sql.shuffle.partitions` to the size derived from the
    * stream's source data around `start` (the partition count is captured
    * when the streaming query starts; the session value is restored
    * immediately after). Results are unchanged: every gated stream's
    * output is a per-key aggregate/dedup whose value is partition-count
    * independent.
    */
  def withStatePartitions[T](
      spark: SparkSession, sourcePath: String)(start: => T): T = {
    val n = statePartitions(spark, sourceBytes(spark, sourcePath))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try start
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
