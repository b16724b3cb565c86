package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The harness's own failure accounting: a query that throws and a query
  * whose output hash is wrong both count as failed, and neither adds a
  * latency sample.
  */
class RunnerSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()

  private val good: Runner.QueryFn = (s, _) => s.range(100).toDF("id")
  private val throwing: Runner.QueryFn =
    (_, _) => throw new IllegalStateException("injected")

  test("throwing and wrong-hash queries are failures, not latencies") {
    val d = RowHash.of(good(spark, ""))
    val expected = Map(
      "good" -> Expect(d.rows, Some(d.hash), d.schema),
      "wrong_hash" -> Expect(d.rows, Some("0" * 32), d.schema),
      "throws" -> Expect(d.rows, Some(d.hash), d.schema))
    val runner = new Runner("", Some(expected), new Tracer(spark.sparkContext))
    val pass = runner.pass(spark, 1, Seq(
      "good" -> good, "wrong_hash" -> good, "throws" -> throwing), traced = false)
    val status = pass.samples.map(s => s.query -> s.status).toMap
    assert(status("good") == "ok")
    assert(status("wrong_hash") == "wrong:hash")
    assert(status("throws") == "failed:java.lang.IllegalStateException")
    assert(Main.failedFrac(pass.samples) == 2.0 / 3)
    assert(Main.latencies(Seq(pass)).size == 1)
  }

  test("the interquartile mean drops a quarter of the samples at each end") {
    assert(Main.interquartileMean(Seq(9.0, 1.0, 2.0, 3.0, 4.0, 100.0)) == 4.5)
    assert(Main.interquartileMean(Seq(1.0, 2.0, 3.0)) == 2.0)
  }

  test("the row digest ignores row order and partitioning") {
    val a = RowHash.of(spark.range(1000).toDF("id").repartition(7))
    val b = RowHash.of(spark.range(1000).toDF("id").orderBy(org.apache.spark.sql.functions.desc("id")))
    assert(a == b)
    assert(RowHash.of(spark.range(999).toDF("id")).hash != a.hash)
  }

  test("a traced pass reports every layer counter for each query") {
    val runner = new Runner("", None, new Tracer(spark.sparkContext))
    val pass = runner.pass(spark, 1, Seq("good" -> good), traced = true)
    val layers = pass.samples.head.layers
    assert(Tracer.metricNames.forall(layers.contains))
    assert(layers("scheduler.jobs") >= 1)
  }
}
