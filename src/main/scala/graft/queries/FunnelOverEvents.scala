package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.core.Schemas
import graft.engine.FunnelTable
import graft.io.Tables.{events, sfTag, streamEvents}

/** The full funnel pipeline (SURVEY §2.9, `report_engine.py:233-319`)
  * exercised over the harness's `events` table, so the driver's DuckDB
  * oracle can verify it end-to-end.
  *
  * The four S1-S4 source shapes are synthesized deterministically from
  * events: stage counts bucket `event_id % 11` into the 11 stage columns
  * (cast to string — the raw CSV shape, so the string→double→long
  * truncation path runs too), OTP buckets `% 3`, discovery `% 5`, and the
  * per-user fact table maps event_type → fetch_status. Everything then
  * flows through [[FunnelTable.buildFromRaw]] — the same plan a real
  * funnel report runs.
  *
  * The oracle SQL is GENERATED from [[FunnelTable.rowSpecs]] so the Spark
  * plan and the DuckDB twin share one definition of the 18 rows.
  */
object FunnelOverEvents {

  private val statusMap: Seq[(String, String)] = Seq(
    "purchase" -> "Success", "error" -> "Failed", "view" -> "Not Attempted")

  /** ONE scan of events computes all 21 aggregates (11 stage + 3 otp +
    * 5 discovery + 2 fi counts) as conditional counts in a single
    * HashAggregate, then projects the wide funnel metrics — versus the
    * naive four-frame build, which scans the fact table four times. At
    * 100 TB that is 4 passes vs 1. Cast chains replicate the per-source
    * aggregate paths exactly (stage counts travel string→double→long,
    * the raw-CSV truncation route), so results are bit-identical to
    * [[FunnelTable.buildFromRaw]] — LlmSpec-equivalent paths are covered
    * by FunnelTableSpec; the DuckDB oracle pins this one.
    */
  /** The 21 conditional aggregates (11 stage + 3 otp + 5 discovery + 2
    * fi) — ONE shared definition feeds the batch path, the streaming
    * path, and (via [[oracle]]'s generated SQL) the DuckDB twin.
    */
  private def funnelAggs: Seq[org.apache.spark.sql.Column] = {
    def cnt(mod: Int, i: Int) =
      count(when(pmod(col("event_id"), lit(mod)) === i, lit(1)))

    Schemas.stageColumns.zipWithIndex.map { case (c, i) =>
      cnt(11, i).cast("string").cast("double").cast("long").as(c)
    } ++
      Schemas.otpColumns.zipWithIndex.map { case (c, i) =>
        cnt(3, i).cast("string").cast("double").as("Total_" + c)
      } ++
      Schemas.discoveryColumns.zipWithIndex.map { case (c, i) =>
        cnt(5, i).cast("string").cast("double").as(c)
      } ++
      statusMap.collect {
        case (et, "Success") =>
          count(when(col("event_type") === et, lit(1)))
            .cast("long").as("fi_success_cnt")
        case (et, "Failed") =>
          count(when(col("event_type") === et, lit(1)))
            .cast("long").as("fi_failed_cnt")
      }
  }

  def query(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val aggs = funnelAggs
    val one = ev.agg(aggs.head, aggs.tail: _*)
    FunnelTable.rows(FunnelTable.wideFromJoined(one)).orderBy("row_idx")
  }

  /** [[query]] with the aggregation run as a STREAM: readStream over the
    * events parquet, the same 21 conditional aggregates as a global
    * complete-mode aggregate (state = one row of counters — the shape
    * that stays tiny at 100 TB/day), AvailableNow trigger into a FILE
    * sink, then the identical wide→rows projection over the settled
    * 1-row result read back from parquet. Same oracle as the batch
    * path: stream/batch parity for the funnel table itself is a
    * hash-checked gate, not a spec claim. The source is
    * [[graft.io.Tables.streamEvents]], the same reader every stream
    * query uses; the aggregate reads only `event_id`/`event_type`, so
    * its `ts` normalization is pruned from the plan.
    *
    * Sink choice: Spark's native parquet sink is append-only, which a
    * complete-mode global aggregate cannot use, so the canonical file
    * path is foreachBatch + idempotent per-batch OVERWRITE — executors
    * write the parquet, the driver holds nothing, and the last batch's
    * overwrite is the settled result. Unlike the memory sink this
    * verification path itself survives any scale (the written table is
    * one row regardless of input size, and a restart simply rewrites
    * it).
    */
  def streamQuery(s: SparkSession, dir: String): DataFrame = {
    val sink = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_stream_funnel_" + sfTag(dir) + "_" +
        java.util.UUID.randomUUID.toString.replace("-", "").take(12))
      .getAbsolutePath
    runStreamFunnel(s, dir, sink)
    FunnelTable.rows(FunnelTable.wideFromJoined(s.read.parquet(sink)))
      .orderBy("row_idx")
  }

  /** One streaming run of the funnel aggregate into `sink` (foreachBatch
    * + idempotent overwrite). The knobs exist so FunnelStreamSpec can
    * prove the RESTART-RECOVERY claim the overwrite pattern makes:
    * `maxFilesPerTrigger` splits the fixture into several micro-batches,
    * `ckpt` pins a durable checkpoint across runs, and `failAtBatch`
    * injects a crash BEFORE that batch's write — the first run dies
    * mid-stream, the rerun resumes from the committed offsets and the
    * settled overwrite must still equal the batch aggregate. Production
    * callers ([[streamQuery]]) leave every knob at None: fresh
    * checkpoint, one AvailableNow drain.
    */
  private[graft] def runStreamFunnel(s: SparkSession, dir: String,
      sink: String, ckpt: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None,
      failAtBatch: Option[Long] = None): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val raw = streamEvents(s, dir, maxFilesPerTrigger)
    val aggs = funnelAggs
    val writer = raw.agg(aggs.head, aggs.tail: _*)
      .writeStream
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (failAtBatch.contains(batchId))
          throw new RuntimeException(s"injected failure at batch $batchId")
        batch.write.mode("overwrite").parquet(sink)
      }
    // stateful (global complete-mode agg) → verified under the RocksDB
    // provider like every other engine stream query; state width derives
    // from the source's bytes (GraftSession.streamStateWidth, r17)
    GraftSession.withStreamStateWidth(s, raw) {
      GraftSession.withRocksDbState(s) {
        val q = ckpt.map(c => writer.option("checkpointLocation", c))
          .getOrElse(writer).start()
        q.awaitTermination()
        graft.ops.PlanShape.streamShapes.record(
          "funnel_" + sfTag(dir), q)
      }
    }
  }

  /** DuckDB twin of [[query]]: source-specific CTEs down to the wide
    * single-row `w`, then the shared table generator
    * ([[FunnelOracleGen.tableSql]]) for survivors + the 18 rows.
    */
  val oracle: String = {
    def counts(mod: Int, prefix: String, n: Int): String =
      (0 until n).map(i =>
        s"count(*) FILTER (WHERE event_id % $mod = $i) AS ${prefix}$i")
        .mkString(", ")

    // c0..c10 follow Schemas.stageColumns order (SURVEY §1.3 S1).
    val wide =
      """c0+c1+c2+c3+c4+c5+c6 AS total_users,
        |  c0 AS d1, c1 AS d2, c2 AS view_drop, c1+c2 AS auth_drop,
        |  d0+d1_+d2_+d3_+d4_ AS d3,
        |  c4 AS d4, c5 AS rej, c6 AS appr, c7 AS fip_rej, c8 AS fip_ok,
        |  c9 AS fetch_ok, c10 AS not_attempted,
        |  fi_s + fi_f AS fi_req_ok,
        |  o1 AS otp_wrong, o2 AS otp_miss,
        |  d1_ AS no_rec, d4_ AS fip_fail, d3_ AS some_fail,
        |  d0 + d2_ AS found_not_linked""".stripMargin

    // d0,d1_,... underscore-suffixed to dodge the d1..d4 metric names.
    FunnelOracleGen.tableSql(
      s"""WITH stg AS (SELECT ${counts(11, "c", 11)} FROM events),
         |otp AS (SELECT ${counts(3, "o", 3)} FROM events),
         |dsc AS (SELECT
         |  count(*) FILTER (WHERE event_id % 5 = 0) AS d0,
         |  count(*) FILTER (WHERE event_id % 5 = 1) AS d1_,
         |  count(*) FILTER (WHERE event_id % 5 = 2) AS d2_,
         |  count(*) FILTER (WHERE event_id % 5 = 3) AS d3_,
         |  count(*) FILTER (WHERE event_id % 5 = 4) AS d4_ FROM events),
         |fi AS (SELECT
         |  count(*) FILTER (WHERE event_type = 'purchase') AS fi_s,
         |  count(*) FILTER (WHERE event_type = 'error') AS fi_f FROM events),
         |w AS (SELECT $wide FROM stg, otp, dsc, fi)""".stripMargin)
  }
}
