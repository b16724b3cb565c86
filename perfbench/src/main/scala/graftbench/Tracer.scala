package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query layer counters, gathered from outside the engine.
  *
  * Queries run one at a time on one driver thread, so every event seen
  * between `begin` and `end` belongs to the query in flight: `end` first
  * drains the listener bus, then reads the counters. The listeners are
  * attached only for traced passes (`attach`/`detach`), so untraced
  * passes run with none of them.
  */
final class Tracer(sc: SparkContext) {
  private val lock = new Object
  private val sums = mutable.Map.empty[String, Double]
  private val peaks = mutable.Map.empty[String, Double]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val submitted = mutable.Set.empty[Int]
  private val stageSubmitTime = mutable.Map.empty[(Int, Int), Long]
  private val stageTaskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val triggerMs = mutable.ArrayBuffer.empty[Double]
  private val passTriggerMs = mutable.ArrayBuffer.empty[Double]
  // RDD block sizes live across queries: persisted_bytes_peak counts
  // what earlier queries left behind, too
  private val blockBytes = mutable.Map.empty[String, Long]
  private var persistedNow = 0L

  private def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
  private def peak(k: String, v: Double): Unit =
    peaks(k) = math.max(peaks.getOrElse(k, 0.0), v)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      add("scheduler.jobs", 1)
      jobStarts(e.jobId) = (e.time, e.stageInfos.map(_.stageId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, stages) =>
        jobSpans += ((t0, e.time))
        add("scheduler.job_busy_s", (e.time - t0) / 1e3)
        add("scheduler.stages_skipped", stages.count(id => !submitted(id)))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        val si = e.stageInfo
        submitted += si.stageId
        stageSubmitTime((si.stageId, si.attemptNumber())) =
          si.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val si = e.stageInfo
        add("scheduler.stages", 1)
        stageTaskTimes.remove((si.stageId, si.attemptNumber())).foreach { ts =>
          val sorted = ts.sorted
          val med = sorted(sorted.size / 2)
          if (med > 0) peak("scheduler.stage_skew_max", sorted.last.toDouble / med)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val info = e.taskInfo
      add("scheduler.tasks", 1)
      if (e.reason != Success) add("scheduler.tasks_failed", 1)
      val key = (e.stageId, e.stageAttemptId)
      stageTaskTimes.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += info.duration
      stageSubmitTime.get(key).foreach { t =>
        add("scheduler.task_wait_s", math.max(0L, info.launchTime - t) / 1e3)
      }
      val m = e.taskMetrics
      if (m != null) {
        add("executor.run_s", m.executorRunTime / 1e3)
        add("executor.cpu_s", m.executorCpuTime / 1e9)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.spill_mem_bytes", m.memoryBytesSpilled.toDouble)
        add("shuffle.spill_disk_bytes", m.diskBytesSpilled.toDouble)
        add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      lock.synchronized {
        val u = e.blockUpdatedInfo
        if (u.blockId.isRDD) {
          val id = u.blockId.name
          val now = if (u.storageLevel.isValid) u.memSize + u.diskSize else 0L
          persistedNow += now - blockBytes.getOrElse(id, 0L)
          if (now == 0L) blockBytes.remove(id) else blockBytes(id) = now
          peak("storage.persisted_bytes_peak", persistedNow.toDouble)
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private def phases(qe: QueryExecution): Unit = lock.synchronized {
    add("catalyst.executions", 1)
    phaseTimes(qe)
  }

  private def phaseTimes(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      add(s"catalyst.${phase}_s", (s.endTimeMs - s.startTimeMs) / 1e3)
    }

  /** Analysis time of the frame a query returned. It is analyzed when
    * built, so no execution listener reports it.
    */
  def constructed(qe: QueryExecution): Unit = lock.synchronized(phaseTimes(qe))

  /** Median micro-batch trigger time since the last call, in ms. */
  def takePassTriggerP50(): Double = lock.synchronized {
    val v = if (passTriggerMs.isEmpty) 0.0
      else passTriggerMs.sorted.apply(passTriggerMs.size / 2)
    passTriggerMs.clear()
    v
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        def ms(k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        add("streaming.batches", 1)
        triggerMs += ms("triggerExecution")
        passTriggerMs += ms("triggerExecution")
        add("streaming.add_batch_s", ms("addBatch") / 1e3)
        add("streaming.wal_commit_s", ms("walCommit") / 1e3)
        peak("streaming.state_rows_peak", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
        peak("streaming.state_mem_bytes_peak",
          p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
      }
  }

  /** Plan and stream listeners are per session, so each pass's session
    * is attached on its own.
    */
  def attach(spark: SparkSession): Unit = {
    Tracer.installCodegenClock()
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    Internals.drainListenerBus(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  private var gc0, compiles0, compileMs0, written0 = 0L

  def begin(): Unit = {
    Internals.drainListenerBus(sc)
    lock.synchronized {
      sums.clear(); peaks.clear(); jobSpans.clear(); jobStarts.clear()
      submitted.clear(); stageSubmitTime.clear(); stageTaskTimes.clear()
      triggerMs.clear()
      peaks("storage.persisted_bytes_peak") = persistedNow.toDouble
    }
    gc0 = Tracer.gcMillis()
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileMs0 = Tracer.compileMillis.sum()
    written0 = Tracer.localBytesWritten()
  }

  /** Counters for the query that ran over [startMs, endMs] (epoch ms). */
  def end(startMs: Long, endMs: Long): Map[String, Double] = {
    Internals.drainListenerBus(sc)
    lock.synchronized {
      add("executor.gc_s", (Tracer.gcMillis() - gc0) / 1e3)
      add("codegen.compiles",
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble)
      add("codegen.compile_s", (Tracer.compileMillis.sum() - compileMs0) / 1e3)
      add("sources.output_bytes", (Tracer.localBytesWritten() - written0).toDouble)
      // driver time not covered by any job of this query
      val spans = jobSpans.map { case (a, b) => (a max startMs, b min endMs) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered, reach = 0L
      spans.foreach { case (a, b) =>
        val from = a max reach
        if (b > from) covered += b - from
        reach = reach max b
      }
      add("scheduler.driver_gap_s", (endMs - startMs - covered).max(0L) / 1e3)
      if (triggerMs.nonEmpty)
        peak("streaming.trigger_p50_ms", triggerMs.sorted.apply(triggerMs.size / 2))
      Tracer.metricNames.map(k => k -> sums.getOrElse(k, peaks.getOrElse(k, 0.0))).toMap
    }
  }
}

object Tracer {
  /** Every counter `end` reports, in output order. Peaks and ratios are
    * combined across queries with max; everything else is summed.
    */
  val metricNames: Seq[String] = Seq(
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.executions", "codegen.compiles", "codegen.compile_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.stages_skipped",
    "scheduler.tasks", "scheduler.tasks_failed", "scheduler.job_busy_s",
    "scheduler.driver_gap_s", "scheduler.task_wait_s",
    "scheduler.stage_skew_max", "executor.run_s", "executor.cpu_s",
    "executor.gc_s", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.fetch_wait_s", "shuffle.spill_mem_bytes",
    "shuffle.spill_disk_bytes", "sources.input_bytes", "sources.input_rows",
    "sources.output_bytes", "storage.persisted_bytes_peak",
    "streaming.batches", "streaming.trigger_p50_ms", "streaming.add_batch_s",
    "streaming.wal_commit_s", "streaming.state_rows_peak",
    "streaming.state_mem_bytes_peak")

  val maxCombined: Set[String] = Set(
    "scheduler.stage_skew_max", "storage.persisted_bytes_peak",
    "streaming.trigger_p50_ms", "streaming.state_rows_peak",
    "streaming.state_mem_bytes_peak")

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Bytes written through Hadoop's local file system, by either of its
    * APIs: parquet output, and the offset, commit and state files of
    * stream checkpoints.
    */
  def localBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum +
      org.apache.hadoop.fs.FileContext.getAllStatistics.asScala
        .collect { case (uri, st) if uri.getScheme == "file" => st.getBytesWritten }.sum

  /** Total codegen compile time in ms. Spark only keeps a sampled
    * histogram of compile times, so the histogram's reservoir is wrapped
    * once to keep an exact running sum as well.
    */
  val compileMillis = new LongAdder
  private var clockInstalled = false

  def installCodegenClock(): Unit = synchronized {
    if (!clockInstalled) {
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      val f = classOf[Histogram].getDeclaredField("reservoir")
      f.setAccessible(true)
      val inner = f.get(h).asInstanceOf[Reservoir]
      f.set(h, new Reservoir {
        override def size(): Int = inner.size()
        override def update(v: Long): Unit = { compileMillis.add(v); inner.update(v) }
        override def getSnapshot: Snapshot = inner.getSnapshot
      })
      clockInstalled = true
    }
  }
}
