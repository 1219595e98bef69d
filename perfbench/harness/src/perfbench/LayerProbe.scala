package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own view of the work, read through its public listener APIs:
  * jobs, stages and task metrics from a `SparkListener`; Catalyst phase
  * times and scan file counts from a `QueryExecutionListener`. Counters
  * only grow; callers take a [[snapshot]] before and after the work they
  * measure and subtract.
  */
final class LayerProbe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val c = mutable.Map[String, Double]() ++ Seq(
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.sched_delay_s", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "scan.bytes_read", "scan.records_read",
    "scan.files_read", "catalyst.executions", "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
  ).map(_ -> 0.0)
  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("exec.jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("exec.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) c.synchronized {
      c("exec.tasks") += 1
      c("exec.task_run_s") += m.executorRunTime / 1e3
      c("exec.task_cpu_s") += m.executorCpuTime / 1e9
      // the Spark UI's scheduler delay: task lifetime not spent running,
      // deserializing, serializing its result or shipping it back
      val info = e.taskInfo
      val delayMs = (info.finishTime - info.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      c("exec.sched_delay_s") += math.max(0L, delayMs) / 1e3
      c("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("exec.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("scan.bytes_read") += m.inputMetrics.bytesRead
      c("scan.records_read") += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val files = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    c.synchronized {
      c("catalyst.executions") += 1
      c("catalyst.analysis_s") += ms("analysis") / 1e3
      c("catalyst.optimization_s") += ms("optimization") / 1e3
      c("catalyst.planning_s") += ms("planning") / 1e3
      c("scan.files_read") += files
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  /** All counters, after every event posted so far has been delivered. */
  def snapshot(): Map[String, Double] = {
    ListenerDrain(spark.sparkContext)
    c.synchronized(c.toMap)
  }
}

object LayerProbe {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Sum of the heap pools' peak usage since the JVM started. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this process (VmHWM), in MiB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }
}
