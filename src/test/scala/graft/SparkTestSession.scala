package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (getOrCreate dedupes). */
trait SparkTestSession {
  lazy val spark: SparkSession = SparkTestSession.session
}

object SparkTestSession {
  lazy val session: SparkSession = GraftSession.build()
}
