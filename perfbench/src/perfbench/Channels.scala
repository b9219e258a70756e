package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own measurement channels for the traced run: a SparkListener
  * (jobs, tasks, task time, core wait, shuffle and spill bytes), a
  * QueryExecutionListener (QueryPlanningTracker phase times per action),
  * a StreamingQueryListener (per-trigger progress) and the code generator's
  * compile-time counter. Counters only grow; callers take snapshots and
  * subtract.
  */
final class Channels(spark: SparkSession) {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageSubmit = mutable.Map.empty[Int, Long]
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  /** Row counts of the leaf scans of each finished action, in order. */
  val scanRows = mutable.ArrayBuffer.empty[Long]

  private def add(k: String, v: Double): Unit = c.synchronized(c(k) += v)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      c.synchronized(stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_run_ms", m.executorRunTime.toDouble)
        add("task_cpu_ns", m.executorCpuTime.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("bytes_read", m.inputMetrics.bytesRead.toDouble)
      }
      val sub = c.synchronized(stageSubmit.get(e.stageId))
      sub.foreach(t => add("scheduler_delay_ms", math.max(0L, e.taskInfo.launchTime - t).toDouble))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("actions", 1)
      add("action_ms", durationNs / 1e6)
      qe.tracker.phases.foreach { case (phase, s) => add(s"phase_$phase", s.durationMs.toDouble) }
      val rows = Channels.scans(qe.executedPlan).flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
      scanRows.synchronized(scanRows += rows)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** All counters after every queued event was delivered, plus the
    * process-wide codegen compile time and GC time.
    */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).filter(_ >= 0).sum
    c.synchronized(c.toMap) ++ Map(
      "codegen_ms" -> CodeGenerator.compileTime / 1e6,
      "gc_ms" -> gcMs)
  }
}

object Channels extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  /** The file scans of a plan, looking through adaptive query stages. */
  def scans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    collect(plan) { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0))).toMap
      .withDefaultValue(0.0)
}
