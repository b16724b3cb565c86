package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Bucketed-table helpers: pre-shuffle once at write time so repeated
  * joins/aggregations on the bucket key run shuffle-free — the co-located
  * join strategy for 100-TB fact-fact joins (both sides bucketed on the
  * key into the same bucket count -> SortMergeJoin without Exchange).
  */
object Bucketing {

  /** Writes `df` as `table`, bucketed and sorted by `key`. A table
    * directory left by a previous session is unknown to the in-memory
    * catalog and makes saveAsTable(overwrite) refuse it, so such an
    * orphan location is cleared first; a table the catalog knows is
    * overwritten through the catalog.
    */
  def writeBucketed(
      df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      val dir = new Path(spark.conf.get("spark.sql.warehouse.dir"), table)
      dir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dir, true)
    }
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** True if the executed plan contains no shuffle (Exchange) node. */
  def isShuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange")
}
