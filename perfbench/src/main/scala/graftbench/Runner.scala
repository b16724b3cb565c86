package graftbench

import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.perfbench.Internals

/** Stored expectation for one query's output. `hash` is None for queries
  * checked on schema and row count only.
  */
final case class Expect(rows: Long, hash: Option[String], schema: String)

/** One timed query call. `status` is `ok`, `failed:<exception class>` or
  * `wrong:<rows|hash|schema>`; only `ok` samples count as latencies.
  */
final case class Sample(
    pass: Int, slot: Int, query: String, status: String,
    constructS: Double, materializeS: Double,
    rows: Long, hash: String, schema: String, error: String,
    heapMb: Double, rddsLeft: Int, layers: Map[String, Double]) {
  def ok: Boolean = status == "ok"
  def wallS: Double = constructS + materializeS
}

final case class Pass(
    index: Int, traced: Boolean, samples: Seq[Sample], triggerP50Ms: Double) {
  /** Summed query spans; the isolation steps between queries are not in it. */
  def suiteS: Double = samples.map(_.wallS).sum
  /** Largest heap occupancy after the collection that ends each query. */
  def peakHeapMb: Double = samples.map(_.heapMb).max
}

object Runner {
  type QueryFn = (SparkSession, String) => DataFrame

  def check(d: RowHash.Digest, exp: Option[Expect]): String = exp match {
    case None => "failed:NoExpectedValue"
    case Some(e) if e.schema != d.schema => "wrong:schema"
    case Some(e) if e.rows != d.rows => "wrong:rows"
    case Some(e) if e.hash.exists(_ != d.hash) => "wrong:hash"
    case _ => "ok"
  }

  /** RDD ids the engine asks harnesses to keep between queries (its
    * memoized, checkpointed dedup chains). Looked up reflectively so the
    * benchmark still builds once the engine drops the registry.
    */
  private lazy val guarded: Int => Boolean =
    try {
      val cls = Class.forName("graft.ChainGuard$")
      val inst = cls.getField("MODULE$").get(null)
      val m = cls.getMethod("isProtected", classOf[Int])
      id => m.invoke(inst, Int.box(id)).asInstanceOf[Boolean]
    } catch { case _: ReflectiveOperationException => _ => false }
}

/** Runs queries one at a time on the calling thread and records a sample
  * for each. With `expected` = None every output is accepted (used to
  * record expected values).
  */
final class Runner(
    sfDir: String,
    expected: Option[Map[String, Expect]],
    tracer: Tracer) {
  import Runner._

  def runOne(spark: SparkSession, pass: Int, slot: Int, name: String,
      fn: QueryFn, traced: Boolean): Sample = {
    if (traced) tracer.begin()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = -1L
    var digest: Option[RowHash.Digest] = None
    val (status, error) =
      try {
        val df = fn(spark, sfDir)
        t1 = System.nanoTime()
        if (traced) tracer.constructed(df.queryExecution)
        val d = RowHash.of(df)
        digest = Some(d)
        (expected.fold("ok")(e => check(d, e.get(name))), "")
      } catch {
        case NonFatal(e) =>
          (s"failed:${e.getClass.getName}", String.valueOf(e.getMessage).take(400))
      }
    val t2 = System.nanoTime()
    if (t1 < 0) t1 = t2
    val layers = if (traced) tracer.end(startMs, System.currentTimeMillis()) else Map.empty[String, Double]
    // what the query still holds (persisted blocks, state stores) once
    // its garbage is collected; the collection also keeps one query's
    // garbage out of the next query's timings
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val left = isolate(spark, name)
    Sample(pass, slot, name, status, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      digest.map(_.rows).getOrElse(-1L), digest.map(_.hash).getOrElse(""),
      digest.map(_.schema).getOrElse(""), error, heapMb, left, layers)
  }

  /** Between-query isolation, outside every timer: drop cached frames and
    * persisted RDDs (except the engine's guarded chains), stop stray
    * streams and unload stream state stores. Returns how many persisted
    * RDDs are left.
    */
  def isolate(spark: SparkSession, name: String): Int = {
    spark.streams.active.foreach(_.stop())
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!guarded(id)) rdd.unpersist(blocking = true)
    }
    if (name.endsWith("_stream")) Internals.unloadStateStores()
    spark.sparkContext.getPersistentRDDs.size
  }

  /** One pass over `order` in a fresh session of the shared context. The
    * engine memoizes some chains per session, so a new session per pass
    * keeps passes from reusing each other's work.
    */
  def pass(root: SparkSession, index: Int, order: Seq[(String, QueryFn)],
      traced: Boolean): Pass = {
    val spark = root.newSession()
    spark.sessionState // initialize outside the first query's timer
    System.gc() // start each pass on a collected heap
    if (traced) tracer.attach(spark)
    val samples = order.zipWithIndex.map { case ((name, fn), slot) =>
      runOne(spark, index, slot, name, fn, traced)
    }
    val p50 = if (traced) tracer.takePassTriggerP50() else 0.0
    if (traced) tracer.detach(spark)
    // the finished session's memoized chains are unreachable now
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Pass(index, traced, samples, p50)
  }
}
