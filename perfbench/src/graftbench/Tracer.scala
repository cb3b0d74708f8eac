package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for a traced run, gathered from outside the
  * program: a SparkListener (jobs, stages, tasks, shuffle, spill,
  * unpersists), a QueryExecutionListener (planning phases, scan time,
  * actions), a StreamingQueryListener (micro-batches) and the JVM's
  * management beans (GC, JIT). Counters only ever grow; callers take
  * [[snapshot]]s at span boundaries and subtract.
  */
final class Tracer(spark: SparkSession) {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }

  // stages that read files: their tasks are the scan tasks
  private val scanStages = mutable.Set.empty[(Int, Int)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("exec.jobs", 1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = e.stageInfo
      if (s.rddInfos.exists(_.name == "FileScanRDD"))
        scanStages.synchronized(scanStages += ((s.stageId, s.attemptNumber())))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val info = e.taskInfo
      val run = m.executorRunTime.toDouble
      add("exec.tasks", 1)
      add("exec.task_run_ms", run)
      add("exec.task_cpu_ns", m.executorCpuTime.toDouble)
      add("exec.task_wait_ms", math.max(0.0, info.duration - run -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime))
      val input = m.inputMetrics.bytesRead
      val shuffleRead = m.shuffleReadMetrics.totalBytesRead
      if (input + shuffleRead < 1024) add("exec.tiny_tasks", 1)
      if (scanStages.synchronized(scanStages((e.stageId, e.stageAttemptId)))) {
        add("tables.scan_tasks", 1)
        add("tables.scan_bytes", input.toDouble)
      }
      add("shuffle.read_bytes", shuffleRead.toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("spill.mem_bytes", m.memoryBytesSpilled.toDouble)
      add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
    }
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
      add("memo.unpersists", 1)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      add("plan.actions", 1)
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      add("plan.analysis_ms", ms("analysis"))
      add("plan.optimize_ms", ms("optimization"))
      add("plan.physical_ms", ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      phases(qe)
      val scans = Plans.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s
      }
      scans.foreach { s =>
        s.metrics.get("scanTime").foreach(m => add("tables.scan_ms", m.value.toDouble))
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      add("stream.batches", 1)
      add("stream.batch_ms", e.progress.batchDuration.toDouble)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Every counter so far, after all posted events have been delivered,
    * plus the process-wide codegen and JVM totals. */
  def snapshot(): Map[String, Double] = {
    Bus.drain(spark.sparkContext)
    val jvm = Map(
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_ns" -> CodeGenerator.compileTime.toDouble,
      "jit.compile_ms" ->
        ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      "jvm.gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.toDouble).sum)
    c.synchronized(c.toMap) ++ jvm
  }
}

object Tracer {
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).iterator
      .map(k => k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0))).toMap

  /** Occupancy of the old-generation heap pool, in bytes. */
  def oldGenBytes(): Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    .map(_.getUsage.getUsed).sum
}
