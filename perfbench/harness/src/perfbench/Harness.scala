package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.app.RunReports
import graft.core.DateSpec
import graft.engine.{FunnelAggregates, FunnelRender, FunnelTable}
import graft.io.{FunnelSources, Recipients, Sinks}

/** The benchmark's JVM side. One process, one Spark session, one client
  * in a closed loop: a pass starts only when the previous one finished.
  *
  * Modes (first argument):
  *  - `report`: pass 0 is the cold pass (`RunReports.run` in a fresh JVM),
  *    then `--passes` steady passes. Untraced passes
  *    call `RunReports.run`; traced passes call [[traceRunReports]], the
  *    same public calls in the same order with a span around each layer.
  *  - `suite`: each pass runs the given `SparkEntry.queries` in order into
  *    the `noop` sink, as `Bench` runs them.
  *
  * Prints `READY` on stdout once the session exists, and writes one JSON
  * result to `--result`.
  */
object Harness {

  final case class Opts(
      mode: String, cores: String, result: String, passes: Int = 1,
      trace: Boolean = false, base: String = "", spec: String = "",
      recipients: String = "", out: String = "", data: String = "",
      queries: Seq[String] = Nil)

  def parse(argv: List[String], o: Opts): Opts = argv match {
    case Nil => o
    case "--passes" :: v :: r => parse(r, o.copy(passes = v.toInt))
    case "--trace" :: v :: r => parse(r, o.copy(trace = v == "1"))
    case "--base" :: v :: r => parse(r, o.copy(base = v))
    case "--spec" :: v :: r => parse(r, o.copy(spec = v))
    case "--recipients" :: v :: r => parse(r, o.copy(recipients = v))
    case "--out" :: v :: r => parse(r, o.copy(out = v))
    case "--data" :: v :: r => parse(r, o.copy(data = v))
    case "--queries" :: v :: r => parse(r, o.copy(queries = v.split(",").toSeq))
    case other :: _ => throw new IllegalArgumentException(s"unknown arg: $other")
  }

  def main(argv: Array[String]): Unit = {
    val o = argv.toList match {
      case mode :: cores :: result :: rest => parse(rest, Opts(mode, cores, result))
      case _ => throw new IllegalArgumentException(
        "usage: Harness report|suite CORES RESULT_JSON [options]")
    }
    val spark = GraftSession.builder(o.cores).getOrCreate()
    println("READY")
    System.out.flush()
    spark.sparkContext.setLogLevel("WARN")
    val result = o.mode match {
      case "report" => report(spark, o)
      case "suite" => suite(spark, o)
      case m => throw new IllegalArgumentException(s"unknown mode: $m")
    }
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(result)
    Files.writeString(Paths.get(o.result), json)
    spark.stop()
  }

  private def epochNanos(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Runs `pass(k)` for k = 0 (cold) to `steady`. A fixed count, not a
    * time limit: steady passes keep getting faster as the JIT compiles
    * more of Spark, so every run must stop at the same point of that
    * curve. Between passes (never inside one) a GC lets the context
    * cleaner drop the previous pass's shuffle and broadcast state.
    */
  private def loop(steady: Int)(pass: Int => Map[String, Any]): Seq[Map[String, Any]] =
    (0 to steady).map { k =>
      System.gc()
      val startEpoch = epochNanos()
      val t0 = System.nanoTime()
      val extra = pass(k)
      extra ++ Map("pass" -> k, "start_epoch_ns" -> startEpoch,
        "wall_s" -> (System.nanoTime() - t0) / 1e9)
    }

  // ---- report workloads ----------------------------------------------------

  private def report(spark: SparkSession, o: Opts): Map[String, Any] = {
    val probe = if (o.trace) Some(new LayerProbe(spark).install()) else None
    val gc0 = LayerProbe.gcSeconds()
    val passes = loop(o.passes) { k =>
      val args = RunReports.Args(base = Some(o.base), date = Some(o.spec),
        recipients = Some(o.recipients), out = s"${o.out}/pass$k")
      val before = probe.map(_.snapshot())
      val tracer = new Tracer
      // the traced run's pass 0 is the untraced program itself: the
      // baseline its outputs and job counts are compared with. A failed
      // entity leaves no outputs, which the caller counts.
      if (o.trace && k > 0) traceRunReports(spark, args, tracer)
      else RunReports.run(spark, args)
      val layers = (probe zip before).map { case (p, b) =>
        LayerProbe.delta(p.snapshot(), b) ++ tracer.totals()
      }
      Map("out" -> args.out) ++ layers.map("layers" -> _)
    }
    Map("passes" -> passes, "gc_s" -> (LayerProbe.gcSeconds() - gc0),
      "heap_peak_mb" -> LayerProbe.heapPeakMb(), "rss_peak_mb" -> LayerProbe.rssPeakMb())
  }

  /** `RunReports.run` for the CSV layout, with the per-entity path
    * (`RunReports.reportForEntity`) spelled out so each layer's public
    * call sits in a span. Same calls, same order, same outputs; the
    * benchmark compares outputs and job counts with pass 0 on every
    * traced run, so this copy cannot drift from the program unnoticed.
    */
  def traceRunReports(spark: SparkSession, args: RunReports.Args, tr: Tracer): Int = {
    Files.createDirectories(Paths.get(args.out))
    val dateSpec = args.date.get
    val recipients = args.recipients.map(Recipients.load)
    val entities = recipients.map(_.to.keys.toSeq.sorted).getOrElse(Seq.empty)
    val base = args.base.get
    val results = entities.map { entity =>
      entity -> Try(tr.span("report.entity") {
        val spec = DateSpec.parse(dateSpec)
        val stages = tr.span("sources.build")(
          FunnelSources.stages(spark, base, spec, Some(entity)))
        if (tr.span("report.probe")(stages.limit(1).isEmpty))
          throw new IllegalStateException(s"no data for $entity @ $dateSpec")
        val stageT = tr.span("engine.build")(FunnelAggregates.stageTotals(stages))
        val otp = tr.span("sources.build")(
          FunnelSources.otp(spark, base, spec, Some(entity)))
        val otpT = tr.span("engine.build")(FunnelAggregates.otpTotals(otp))
        val disc = tr.span("sources.build")(
          FunnelSources.discovery(spark, base, spec, Some(entity)))
        val discT = tr.span("engine.build")(FunnelAggregates.discoveryTotals(disc))
        val facts = tr.span("sources.build")(
          FunnelSources.userFunnel(spark, base, spec, Some(entity)))
        val fiT = tr.span("engine.build")(FunnelAggregates.fiStatusCounts(facts))
        val wide = tr.span("engine.build")(FunnelTable.wide(stageT, otpT, discT, fiT))
        val table = tr.span("engine.build")(FunnelTable.rows(wide))

        val tag = dateSpec.replace(" ", "").replace("->", "-").replace("*", "m")
        val stem = s"${args.out}/funnel_report-$entity-$tag"
        tr.span("sinks.parquet")(Sinks.parquet(table, s"$stem.parquet"))
        val summary = tr.span("engine.build")(FunnelTable.summary(wide))
        val grid = tr.span("engine.build")(FunnelRender.grid(table, summary))
        tr.span("sinks.csv")(Sinks.csv(grid, s"$stem.grid.csv"))
        tr.span("sinks.xlsx") {
          val blank = Row.fromSeq(Seq.fill(7)(""))
          Sinks.xlsxFunnel(blank +: grid.drop("ord").collect().toSeq, s"$stem.xlsx")
        }
        recipients.foreach { r =>
          Sinks.emailOrSkip(r.to.getOrElse(entity, Seq.empty), r.ccFor(entity),
            s"Funnel report $entity $dateSpec", s"$stem.xlsx")
        }
        s"$stem.{parquet,grid.csv,xlsx}"
      })
    }
    results.foreach {
      case (e, Success(path)) => println(s"[run] $e -> $path")
      case (e, Failure(ex)) =>
        println(s"[run] $e FAILED: ${ex.getClass.getSimpleName}: ${ex.getMessage}")
    }
    results.count(_._2.isFailure)
  }

  // ---- query suite -----------------------------------------------------------

  private def suite(spark: SparkSession, o: Opts): Map[String, Any] = {
    val probe = if (o.trace) Some(new LayerProbe(spark).install()) else None
    val fns = o.queries.map(q => q -> SparkEntry.queries(q))
    val hashes = mutable.LinkedHashMap[String, String]()
    val gc0 = LayerProbe.gcSeconds()
    val passes = loop(o.passes) { k =>
      val times = mutable.LinkedHashMap[String, Double]()
      val errors = mutable.LinkedHashMap[String, String]()
      var buildS, execS, buildJobs = 0.0
      val before = probe.map(_.snapshot())
      fns.foreach { case (name, fn) =>
        System.gc()
        try {
          SparkEntry.withOverlay(spark, name) {
            // listener snapshots sit between the timed parts of the slot
            val jobs0 = probe.map(_.snapshot()("exec.jobs"))
            val t0 = System.nanoTime()
            val df = fn(spark, o.data)
            val build = System.nanoTime() - t0
            val jobs1 = probe.map(_.snapshot()("exec.jobs"))
            val t1 = System.nanoTime()
            df.write.mode("overwrite").format("noop").save()
            val exec = System.nanoTime() - t1
            buildS += build / 1e9
            execS += exec / 1e9
            buildJobs += (jobs0 zip jobs1).map { case (a, b) => b - a }.getOrElse(0.0)
            times(name) = (build + exec) / 1e9
          }
          // the result hash, once per run and outside the query's slot
          if (k == 0) hashes(name) = SparkEntry.withOverlay(spark, name)(
            ResultHash(fn(spark, o.data)))
        } catch {
          case e: Throwable =>
            errors(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
      }
      val layers = (probe zip before).map { case (p, b) =>
        LayerProbe.delta(p.snapshot(), b) ++ Map(
          "suite.load_build_s" -> buildS, "suite.execute_s" -> execS,
          "suite.build_jobs" -> buildJobs)
      }
      // a pass's time is the sum of its queries' slots, as Bench totals them
      Map("times" -> times, "errors" -> errors, "slot_s" -> times.values.sum) ++
        layers.map("layers" -> _)
    }
    Map("passes" -> passes, "hashes" -> hashes,
      "gc_s" -> (LayerProbe.gcSeconds() - gc0),
      "heap_peak_mb" -> LayerProbe.heapPeakMb(), "rss_peak_mb" -> LayerProbe.rssPeakMb())
  }
}

/** In-memory spans: name, start, end and parent. [[totals]] gives each
  * layer's summed time, and the entity span's self time (its duration minus
  * the time its child spans cover).
  */
final class Tracer {
  private final case class Span(name: String, parent: Int, t0: Long, var t1: Long = 0L)
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = -1

  def span[A](name: String)(body: => A): A = {
    val id = spans.length
    spans += Span(name, open, System.nanoTime())
    val outer = open
    open = id
    try body
    finally { spans(id).t1 = System.nanoTime(); open = outer }
  }

  def totals(): Map[String, Double] = {
    val dur = spans.map(s => (s.t1 - s.t0) / 1e9)
    val byName = spans.indices.groupBy(spans(_).name).map { case (n, ids) =>
      (n + "_s") -> ids.map(dur).sum
    }
    val childTime = spans.indices.filter(spans(_).parent >= 0)
      .groupBy(spans(_).parent).map { case (p, ids) => p -> ids.map(dur).sum }
    val selfEntity = spans.indices.filter(spans(_).name == "report.entity")
      .map(i => dur(i) - childTime.getOrElse(i, 0.0)).sum
    byName ++ Map("report.self_s" -> selfEntity)
  }
}
