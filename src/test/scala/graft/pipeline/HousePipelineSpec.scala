package graft.pipeline

import graft.{Q, SparkTestSession}
import graft.queries.PipelineQueries
import org.apache.spark.GraftTestHooks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, Project, Window}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5.2 item 4: end-to-end pipeline test on synthetic house-like
  * data with the reference train/test schema (FIXTURES.md §1).
  */
class HousePipelineSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("reference pipeline shape produces a valid submission") {
    // label correlated with affordability so the tree has signal
    val train = HouseSynth.synth(spark, 1500, 0, seed = 1)
      .selectExpr("*",
        "CAST(CASE WHEN customer_salary * 8 > price THEN 1 ELSE 0 END AS BIGINT) AS label")
    val test = HouseSynth.synth(spark, 600, 200000, seed = 2)
    val r = HousePipeline.run(train, test,
      HousePipeline.Config(tree = graft.tree.TreeParams(
        maxDepth = 4, minSamplesSplit = 20, minSamplesLeaf = 10,
        criterion = "entropy")))

    val sub = r.submission.collect()
    assert(sub.length == 600)                      // row count = test rows
    assert(r.submission.columns.toSeq == Seq("id", "label"))
    assert(sub.forall(row => Set(0L, 1L)(row.getLong(1)))) // label domain
    assert(sub.map(_.getLong(0)).distinct.length == 600)   // ids preserved
    assert(r.valAccuracy > 0.8)                    // learnable signal
    assert(r.valMacroF1 > 0.5)
    assert(r.featureCols.nonEmpty && r.model.depth > 0)
  }

  test("pipeline is deterministic for a fixed seed") {
    val train = HouseSynth.synth(spark, 800, 0, seed = 3)
      .selectExpr("*",
        "CAST(CASE WHEN customer_salary * 8 > price THEN 1 ELSE 0 END AS BIGINT) AS label")
    val test = HouseSynth.synth(spark, 200, 100000, seed = 4)
    val cfg = HousePipeline.Config(tree = graft.tree.TreeParams(
      maxDepth = 3, minSamplesSplit = 20, minSamplesLeaf = 10))
    val a = HousePipeline.run(train, test, cfg)
    val b = HousePipeline.run(train, test, cfg)
    assert(a.model.root == b.model.root)
    assert(a.submission.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      sameElements
      b.submission.collect().map(r => (r.getLong(0), r.getLong(1))).sorted)
  }

  private def gateFrames = (
    HouseSynth.labeled(spark, 2000, seed = 11),
    HouseSynth.synth(spark, 800, idBase = 200000, seed = 12))

  test("house gate config reproduces its recorded values and rules") {
    // perfbench's expectation pins only this gate's schema and row
    // count; these values and rules come from the earlier per-step
    // preprocessing, which fitting from the raw frames must reproduce
    val (train, test) = gateFrames
    val r = HousePipeline.run(train, test, PipelineQueries.houseGateConfig)
    val hist = r.submission.groupBy("label").count().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert((Q.r6Double(r.valAccuracy), Q.r6Double(r.valMacroF1),
      hist.getOrElse(0L, 0L), hist.getOrElse(1L, 0L), hist.values.sum) ==
      ((0.972431, 0.971153, 476L, 324L, 800L)))
    assert(r.model.rules == Seq(
      "affordability_ratio_binned <= 4.0 AND affordability_ratio_binned <= 3.0 => label=0 (n=803)",
      "affordability_ratio_binned <= 4.0 AND affordability_ratio_binned > 3.0 AND price_binned <= 5.0 AND furnishing_status_encoded <= 1.0 => label=0 (n=122)",
      "affordability_ratio_binned <= 4.0 AND affordability_ratio_binned > 3.0 AND price_binned <= 5.0 AND furnishing_status_encoded > 1.0 => label=0 (n=53)",
      "affordability_ratio_binned <= 4.0 AND affordability_ratio_binned > 3.0 AND price_binned > 5.0 => label=0 (n=25)",
      "affordability_ratio_binned > 4.0 => label=1 (n=598)"))
  }

  test("preprocess fits in at most 3 executions and applies as a projection") {
    val (train, test) = gateFrames
    val executions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        executions.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        executions.incrementAndGet()
    }
    GraftTestHooks.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    val (tr, te, _) =
      try {
        val out = HousePipeline.preprocess(
          train, test, PipelineQueries.houseGateConfig)
        GraftTestHooks.drainListenerBus(spark.sparkContext)
        out
      } finally spark.listenerManager.unregister(listener)
    // vocabulary-size probe, vocabulary collect, one fit of all bins
    assert(executions.get <= 3, s"${executions.get} executions")
    Seq(tr, te).foreach { df =>
      val qe = df.queryExecution
      val bad = qe.optimizedPlan.collect {
        case j: Join   => j.nodeName
        case w: Window => w.nodeName
      } ++ (qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p                        => p
      }).collect { case e: Exchange => e.nodeName }
      assert(bad.isEmpty, qe.optimizedPlan.treeString)
      assert(qe.optimizedPlan.collect { case p: Project => p }.size == 1,
        qe.optimizedPlan.treeString)
    }
  }

  test("a pipeline that throws mid-fit leaves no frame persisted") {
    // a string passthrough feature fails the tree's level-0 ANSI cast
    // after the split and the root frame were persisted
    val train = HouseSynth.labeled(spark, 200, seed = 5)
      .withColumn("note", lit("abc"))
    val test = HouseSynth.synth(spark, 50, idBase = 100000, seed = 6)
    val cfg = PipelineQueries.houseGateConfig.copy(
      passthrough = Seq("rooms", "note"),
      tree = PipelineQueries.houseGateConfig.tree.copy(maxFeatures = None))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](HousePipeline.run(train, test, cfg))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}
