package graft.tools

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Dump `.explain("formatted")` for named registered queries to files —
  * the plan evidence the optimization rounds commit under `plans/rNN/`.
  *
  * Usage: runMain graft.tools.ExplainDump <outDir> <suffix> [q1,q2,...]
  * (no query list → every registered query). Each query writes
  * `<outDir>/<name>_<suffix>.txt`. Queries whose construction RUNS work
  * (the streaming sink-readback family) still only pay plan-build cost
  * here; the dumped plan is the batch read-back plan for those, which
  * is the part a plan diff can meaningfully show.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ExplainDump <outDir> <suffix> [q1,q2,...]")
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val suffix = args(1)
    val names: Seq[String] =
      if (args.length >= 3)
        args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val txt =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch {
          case e: Throwable =>
            s"EXPLAIN FAILED: ${e.getClass.getName}: ${e.getMessage}"
        }
      Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote ${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
