package graftbench

import org.apache.spark.sql.SparkSession

/** The one pinned session every benchmark run uses. Nothing here is read
  * from the environment: the launcher strips inherited Spark and
  * `SPARK_GRAFT_*` variables, and the effective values are written into
  * every run's ledger.
  */
object Session {
  /** @param work the run's own directory, emptied before each run */
  def settings(cpus: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.files.maxPartitionBytes" -> "134217728",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "67108864",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "localhost",
    "spark.driver.bindAddress" -> "127.0.0.1",
    "spark.sql.warehouse.dir" -> s"$work/warehouse",
    "spark.local.dir" -> s"$work/local",
    // unnamed stream checkpoints go to java.io.tmpdir, which the
    // launcher points at $work/tmp
    "spark.checkpoint.dir" -> s"$work/checkpoint")

  def build(cpus: Int, work: String): SparkSession = {
    val b = SparkSession.builder().appName("graft-perfbench")
    settings(cpus, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Effective values of the pinned keys, as the session reports them. */
  def effective(spark: SparkSession, cpus: Int, work: String)
      : Seq[(String, String)] =
    settings(cpus, work).map { case (k, _) =>
      k -> spark.conf.getOption(k)
        .orElse(spark.sparkContext.getConf.getOption(k)).getOrElse("")
    } :+ ("java.io.tmpdir" -> System.getProperty("java.io.tmpdir"))
}
