package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built: every main and the test
  * suites get theirs here, so correctness and speed run under the same
  * configuration.
  *
  * The defaults are filled in only where a key is missing, so Spark's own
  * mechanism is the single override path: `spark-submit --conf k=v`, or
  * `-Dspark.k=v` on a plain JVM, always wins. Everything not set here
  * (AQE, split and advisory sizes) is Spark's own default.
  */
object GraftSession {

  /** Local executor threads: `SPARK_GRAFT_CPUS`, or every core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `conf` with the engine's defaults set where it has no value. */
  def withDefaults(conf: SparkConf, cpus: Int): SparkConf = conf
    .setIfMissing("spark.master", s"local[$cpus]")
    .setIfMissing("spark.sql.shuffle.partitions", cpus.toString)
    .setIfMissing("spark.sql.session.timeZone", "UTC")
    .setIfMissing("spark.ui.enabled", "false")
    // bucketed-table queries write real table data: keep it under the
    // build's output directory, not ./spark-warehouse
    .setIfMissing("spark.sql.warehouse.dir", "target/warehouse")
    .setIfMissing("spark.log.level", "ERROR")

  /** The session, created on first call and shared after (getOrCreate). */
  def build(): SparkSession =
    SparkSession.builder().config(withDefaults(new SparkConf(), cpus))
      .getOrCreate()
}
