package graft

import java.nio.file.Files

import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

import graft.app.RunReports
import graft.io.FunnelCsvFixture

/** Pins how often the report path reads its CSVs. Per entity, a Day spec
  * costs exactly two executions that scan files: the no-data probe
  * (`stages.limit(1)`, 1 file) and [[graft.engine.FunnelTable.wide]]
  * (the four sources, 4 files). The sinks write local frames, so a change
  * that makes any of them re-run the source plan fails here.
  */
class ReportScanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  /** numFiles of the file scans in each successful execution that has any. */
  private final class ScanListener extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    val scans = mutable.ArrayBuffer[Long]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val files = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }
      if (files.nonEmpty) scans.synchronized(scans += files.sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  test("RunReports, Day spec: per entity 2 executions scan files, 5 files in all") {
    val base = Files.createTempDirectory("scan-count").toString
    FunnelCsvFixture.write(base, FunnelCsvFixture.defaultDays)
    val out = Files.createTempDirectory("scan-count-out").toString

    FunnelCsvFixture.entities.foreach { e =>
      val rec = Files.createTempFile("recipients", ".json")
      Files.writeString(rec, s"""{"to": {"$e": ["$e@x"]}}""")
      ListenerBus.drain(spark.sparkContext)
      val listener = new ScanListener
      spark.listenerManager.register(listener)
      val failures =
        try {
          val n = RunReports.run(spark, RunReports.Args(
            base = Some(base), date = Some("31_01_2026"),
            recipients = Some(rec.toString), out = out))
          ListenerBus.drain(spark.sparkContext)
          n
        } finally spark.listenerManager.unregister(listener)

      assert(failures === 0, e)
      assert(listener.scans.size === 2, s"$e: scan executions ${listener.scans}")
      assert(listener.scans.sum === 5L, s"$e: files read ${listener.scans}")
    }
  }
}
