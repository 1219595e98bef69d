package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.GraftSession

/** The harness-table catalog: the one place that knows where a query's
  * tables live (`<dir>/<name>.parquet`), how they are read, how the
  * `events` table encodes `ts`, and where queries put their scratch
  * output. Every registered query loads its tables through here.
  */
object Tables {

  /** One harness table, read with schema inference under the graft
    * session defaults ([[GraftSession.tune]] runs once per load).
    */
  def load(s: SparkSession, dir: String, name: String): DataFrame = {
    GraftSession.tune(s)
    s.read.parquet(s"$dir/$name.parquet")
  }

  /** events with `ts` normalized to one canonical TIMESTAMP type,
    * branching on the schema the parquet footer actually declares:
    *  - TIMESTAMP(NANOS) arrives as raw Long nanos under the session's
    *    `nanosAsLong` (see [[GraftSession.tune]]) — integer `div` keeps
    *    full precision (double division would lose bits above 2^53);
    *  - TIMESTAMP(MICROS) without isAdjustedToUTC arrives as
    *    TIMESTAMP_NTZ — under the UTC session, casting to TIMESTAMP
    *    reinterprets the same wall clock as the same instant DuckDB
    *    reads, so oracle epoch semantics are unchanged.
    * Branching on the observed type (not a fixed assumption) keeps every
    * downstream reader working when the data's physical precision moves.
    */
  def events(s: SparkSession, dir: String): DataFrame =
    canonicalTs(load(s, dir, "events"))

  /** The events table as an unbounded source: same file, same `ts`
    * normalization as [[events]], but planned as a streaming scan so
    * every query built on it runs through the micro-batch engine.
    *
    * The harness table is a single FILE (stream the parent dir with a
    * glob filter — the file source rejects a file basePath), but
    * Spark-written fixtures are DIRECTORIES named events.parquet
    * (stream them directly; a name glob would exclude their part files).
    * `maxFilesPerTrigger` splits a directory table into several
    * micro-batches; None drains it in one.
    */
  def streamEvents(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = load(s, dir, "events").schema
    val tablePath = new java.io.File(s"$dir/events.parquet")
    val rd = s.readStream.schema(schema)
    val limited = maxFilesPerTrigger
      .map(n => rd.option("maxFilesPerTrigger", n.toString)).getOrElse(rd)
    canonicalTs(
      if (tablePath.isDirectory) limited.parquet(tablePath.toString)
      else limited.option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  private def canonicalTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  private val footerCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Row count of a table from its parquet FOOTERS (summed block row
    * counts), no Spark job — the `nRows` feed for the adaptive-banding
    * builders in [[graft.llm.Similarity]], whose `count()` default otherwise runs two extra jobs per
    * invocation at index-build time. Cached per path because plan-shape
    * snapshots and Verify both rebuild the same query repeatedly. Footer
    * reads are O(files) driver-side metadata fetches, the same class of
    * work as listing the directory.
    */
  def rowCount(s: SparkSession, dir: String, name: String): Long =
    footerCounts.computeIfAbsent(s"$dir/$name.parquet", { p: String =>
      val conf = s.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(p)
      val fs = root.getFileSystem(conf)
      val files = fs.listStatus(root).filter(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
      require(files.nonEmpty, s"no parquet files under $p")
      files.map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    })

  /** Root of every query's on-disk scratch output: `target/` under the
    * JVM's working directory, absolute because some consumers (the
    * DuckDB oracle SQL over the CSV fixture) embed it verbatim.
    */
  private val scratchRoot: String =
    new java.io.File("target").getAbsolutePath

  def scratch(name: String): String = s"$scratchRoot/$name"

  /** Per-JVM scratch token (pid@host, sanitized): two concurrent runs
    * at the SAME sf must not share scratch paths or temp table names
    * either — the token is stable within a JVM (a query re-run
    * overwrites its own scratch) and unique across JVMs, so Verify and
    * Bench can overlap freely at any sf combination.
    */
  private val runToken: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .replaceAll("[^A-Za-z0-9]", "_")

  /** Identifier-safe tag of an sf dir + the per-JVM run token, for
    * per-scale scratch paths and table names.
    */
  def sfTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_").replaceAll("^_+", "") +
      "_" + runToken
}
