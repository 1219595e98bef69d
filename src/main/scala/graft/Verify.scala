package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import Json.{quote => q}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Periodic GC so ContextCleaner keeps up across the whole query
    // suite (nothing here is timed, so the full-GC pauses are free);
    // Bench instead GCs between queries to keep pauses out of timed
    // slots.
    val spark = GraftSession.builder(cpus)
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 runs a subset
    // (unset on the driver → full suite); entries are trimmed, empties
    // dropped, and unknown names rejected loudly — a typo'd name would
    // otherwise silently skip the query and leave a stale dump behind
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // per-query conf overlay (SparkEntry.confOverlays): performance
      // confs only, but applied here too so the oracle gate checks the
      // exact configuration the bench runs
      try SparkEntry.withOverlay(spark, name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        // class name too: ParseException and friends can have a null/empty
        // message, which made a real failure look blank in the round log
        System.err.println(
          s"[verify] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
