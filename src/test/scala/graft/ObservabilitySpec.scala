package graft

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Zero-extra-pass data-quality metrics via `Dataset.observe`: the
  * counters ride the SAME scan as the query instead of a second
  * audit pass — at 100 TB a separate "count the nulls" job doubles the
  * read bill, observe() makes it free. Pinned against a direct
  * aggregate of the same fixture.
  */
class ObservabilitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("observed DQ metrics equal a direct aggregate, collected in one pass") {
    assume(new java.io.File("/root/testdata/sf0.001/events.parquet").exists())
    val ev = graft.io.Tables.events(spark, "/root/testdata/sf0.001")
    val obs = Observation("dq")
    // DISTINCT aggregates are rejected in observed metrics, so the
    // cardinality counter is the mergeable HLL form (mirrored in the
    // direct aggregate below, so equality is exact).
    // The observed plan does real downstream work (a filter + agg), and
    // the metrics still describe the FULL pre-filter scan
    val downstream = ev.observe(obs,
        count(lit(1)).as("rows"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_values"),
        approx_count_distinct(col("event_type")).as("types"),
        max(col("user_id")).as("max_user"))
      .filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("purchases"))
    val purchases = downstream.collect()(0).getLong(0)
    val m = obs.get
    val direct = ev.agg(
        count(lit(1)).as("rows"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_values"),
        approx_count_distinct(col("event_type")).as("types"),
        max(col("user_id")).as("max_user"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchases"))
      .collect()(0)
    assert(m("rows") === direct.getAs[Long]("rows"))
    assert(m("null_values") === direct.getAs[Long]("null_values"))
    assert(m("types") === direct.getAs[Long]("types"))
    assert(m("max_user") === direct.getAs[Long]("max_user"))
    assert(purchases === direct.getAs[Long]("purchases"))
  }
}
