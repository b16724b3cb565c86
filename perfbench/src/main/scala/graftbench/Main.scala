package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Benchmark JVM entry point; `perfbench/run.py` starts it once per run.
  *
  * Arguments are `key=value` pairs:
  *  - `mode`: `run` (one workload run) or `expect` (record each query's
  *    output digest, to build the stored expectations);
  *  - `sf`: the table directory; `work`: the run's own directory;
  *  - `out`: where the result JSON goes; `ledger`: per-query ledger path;
  *  - `workload`, `seed`, `seconds`, `trace` (0|1) and `expected` for
  *    `run`; `seed`, `passes` and `verify` (a dump directory of parquet
  *    results, hashed as well) for `expect`, which records every workload
  *    query.
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
    .enable(SerializationFeature.INDENT_OUTPUT)

  def write(path: String, value: Any): Unit =
    Files.writeString(Paths.get(path), json.writeValueAsString(value))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Interquartile mean: the mean of the samples left once a quarter of
    * them (rounded down) is cut from each end.
    */
  def interquartileMean(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val mid = s.slice(s.size / 4, s.size - s.size / 4)
    if (mid.isEmpty) 0.0 else mid.sum / mid.size
  }

  /** Latency samples: calls that returned the expected output. A call
    * that threw or returned a wrong result adds none.
    */
  def latencies(passes: Seq[Pass]): Seq[Double] =
    passes.flatMap(_.samples).filter(_.ok).map(_.wallS)

  def failedFrac(samples: Seq[Sample]): Double =
    samples.count(!_.ok).toDouble / samples.size

  def loadExpected(path: String): Map[String, Expect] =
    json.readTree(new File(path)).properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expect(v.get("rows").asLong,
        Option(v.get("hash")).filterNot(_.isNull).map(_.asText),
        v.get("schema").asText)
    }.toMap

  def main(args: Array[String]): Unit = {
    val opts = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = Session.build(cpus, opts("work"))
    try opts("mode") match {
      case "run" => run(spark, opts, cpus)
      case "expect" => expect(spark, opts)
    } finally spark.stop()
  }

  private def queryFns(names: Seq[String]): Seq[(String, Runner.QueryFn)] = {
    val registry = SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"unregistered queries: ${missing.mkString(",")}")
    names.map(n => n -> registry(n))
  }

  private def order[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

  def run(spark: SparkSession, opts: Map[String, String], cpus: Int): Unit = {
    val w = Workloads.byName(opts("workload")).getOrElse(
      sys.error(s"unknown workload ${opts("workload")}"))
    val fns = queryFns(w.queries)
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val runner = new Runner(opts("sf"), Some(loadExpected(opts("expected"))),
      new Tracer(spark.sparkContext))

    // Pass 0 warms every query up (JIT, codegen cache, the engine's
    // per-JVM model caches); it is checked but not measured on its own.
    // setup_s runs from JVM start (the query registry and the session
    // are built on the way) to its end.
    val passes = mutable.ArrayBuffer(runner.pass(spark, 0, order(fns, seed, 0), false))
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    val passWall = mutable.ArrayBuffer.empty[Double]
    def remaining = seconds - (System.nanoTime() - t0) / 1e9
    var p = 1
    // untraced and traced passes alternate in a traced run, so the
    // tracing overhead is measured within the run: the traced pass
    // against the best untraced one, as for suite_s. The first measured
    // pass is the slowest while the JIT settles, so a traced run makes a
    // third pass to have an untraced one after its traced pass.
    val minPasses = if (traced) 3 else Workloads.MinPasses
    while (p <= minPasses || remaining > median(passWall.toSeq) / 2) {
      val s = System.nanoTime()
      passes += runner.pass(spark, p, order(fns, seed, p), traced && p % 2 == 0)
      passWall += (System.nanoTime() - s) / 1e9
      p += 1
    }
    val measureS = (System.nanoTime() - t0) / 1e9

    val all = passes.toSeq.flatMap(_.samples)
    val measured = passes.toSeq.filter(_.index > 0)
    val plain = measured.filterNot(_.traced)
    val okWalls = latencies(plain)
    val failed = all.filterNot(_.ok)
    val e2e = ListMap(
      "setup_s" -> setupS,
      // best measured pass, as graft.Bench's repeat-and-take-min: noise
      // on a shared box only ever adds time
      "suite_s" -> plain.map(_.suiteS).min,
      // not the median: a run has 10 to 12 samples from 5 or 6 queries,
      // and the median falls between two queries' times and hops
      // between them from run to run
      "query_iqm_s" -> interquartileMean(okWalls),
      // also the best pass: what is live after the memo-building sibling
      // runs shifts by some 20 MB with the query order of its pass
      "peak_heap_mb" -> plain.map(_.peakHeapMb).min)
    val layers = if (traced) layerMetrics(measured) else ListMap.empty[String, Double]

    val result = ListMap(
      "workload" -> w.name, "seed" -> seed, "trace" -> traced,
      "measure_s" -> measureS,
      "correct" -> failed.isEmpty, "attempted" -> all.size,
      "failed" -> failed.size,
      "failed_frac" -> failedFrac(all),
      "failed_queries" -> failed.map(s => s"${s.query}: ${s.status}").distinct,
      "latency_samples" -> okWalls.size,
      "end_to_end" -> e2e, "per_layer" -> layers)
    write(opts("out"), result)
    write(opts("ledger"), result ++ ListMap(
      "config" -> ListMap(Session.effective(spark, cpus, opts("work")): _*),
      "passes" -> passes.toSeq.map(ledgerPass)))
  }

  private def ledgerPass(p: Pass) = ListMap(
    "index" -> p.index, "traced" -> p.traced, "suite_s" -> p.suiteS,
    "peak_heap_mb" -> p.peakHeapMb,
    "samples" -> p.samples.map { s =>
      ListMap("slot" -> s.slot, "query" -> s.query, "status" -> s.status,
        "construct_s" -> s.constructS, "materialize_s" -> s.materializeS,
        "rows" -> s.rows, "hash" -> s.hash, "error" -> s.error,
        "heap_mb" -> s.heapMb,
        "rdds_left" -> s.rddsLeft) ++ s.layers.toSeq.sortBy(_._1)
    })

  /** Per-layer metrics of a traced run: per-pass totals (or maxima, for
    * peaks and ratios), median over its traced passes.
    */
  def layerMetrics(measured: Seq[Pass]): ListMap[String, Double] = {
    val traced = measured.filter(_.traced)
    def perPass(f: Pass => Double) = median(traced.map(f))
    def gateSamples(p: Pass) = p.samples.filter(s => Workloads.gates(s.query))
    val tracer = Tracer.metricNames.map { k =>
      k -> (
        if (k == "streaming.trigger_p50_ms") median(traced.map(_.triggerP50Ms))
        else if (Tracer.maxCombined(k))
          traced.flatMap(_.samples).map(_.layers(k)).foldLeft(0.0)(math.max)
        else perPass(_.samples.map(_.layers(k)).sum))
    }
    val plainSuite = measured.filterNot(_.traced).map(_.suiteS).min
    ListMap(
      "queries.construct_s" -> perPass(_.samples.map(_.constructS).sum),
      "queries.materialize_s" -> perPass(_.samples.map(_.materializeS).sum)) ++
      tracer ++ ListMap(
      "storage.rdds_left" -> measured.flatMap(_.samples).map(_.rddsLeft.toDouble)
        .foldLeft(0.0)(math.max),
      "pipeline.gates_s" -> perPass(gateSamples(_).map(_.wallS).sum),
      "pipeline.jobs" -> perPass(gateSamples(_).map(_.layers("scheduler.jobs")).sum),
      "trace.overhead_frac" -> (perPass(_.suiteS) / plainSuite - 1))
  }

  /** Records each query's digest over `passes` passes (default 1), and
    * each dump's digest with `verify`.
    */
  def expect(spark: SparkSession, opts: Map[String, String]): Unit = {
    val names = Workloads.all.flatMap(_.queries).distinct
    val fns = queryFns(names)
    val seed = opts.getOrElse("seed", "1").toLong
    val runner = new Runner(opts("sf"), None, new Tracer(spark.sparkContext))
    val passes = (0 until opts.getOrElse("passes", "1").toInt)
      .map(p => runner.pass(spark, p, order(fns, seed, p), false))
    val byQuery = passes.flatMap(_.samples).groupBy(_.query)
    val out = names.sorted.map { q =>
      val ss = byQuery(q).sortBy(_.pass)
      val s = ss.head
      val dump = opts.get("verify").map(d => s"$d/$q")
        .filter(d => new File(d).exists)
        .map(d => RowHash.of(spark.read.parquet(d)))
      q -> (ListMap(
        "status" -> s.status, "rows" -> s.rows, "hash" -> s.hash,
        "schema" -> s.schema, "stable" -> ss.map(_.hash).distinct.size.==(1),
        "rows_only" -> Workloads.gates(q),
        "wall_s" -> ss.map(_.wallS), "error" -> s.error) ++
        dump.fold(ListMap.empty[String, Any])(d =>
          ListMap("dump_rows" -> d.rows, "dump_hash" -> d.hash)))
    }
    write(opts("out"), ListMap(out: _*))
  }
}
