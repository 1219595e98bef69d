package graft
import org.apache.spark.sql.SparkSession

import Json.{quote => q}

/** Benchmark main: runs every registered query against
  * `SPARK_GRAFT_SF_DIR`, printing ONE JSON line with per-query seconds.
  *
  * Each query is fully executed through the `noop` sink (forces complete
  * materialization without write-path cost — `count()` would let the
  * optimizer prune work). A failed query is reported under `"errors"`, NOT
  * as a timing: a wall-clock number indistinguishable from success would
  * mask regressions.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // local-iteration filter, same contract as Verify's: a subset for
    // targeted soaks (e.g. the sf1 linearity probe); unset on the
    // driver -> full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val filtered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // SPARK_GRAFT_TRANCHE=i/N: run the i-th (0-based) of N contiguous
    // alphabetic tranches — the cap-queries-per-JVM protocol for long
    // soaks (the r14 sf10 finding: a single JVM running hundreds of
    // heavy queries accumulates cleaner/GC debt that inflates successor
    // slots 2-100x; tranching bounds how much debt any slot can inherit,
    // and the soak driver loops spark-submit over i)
    val suite = sys.env.get("SPARK_GRAFT_TRANCHE") match {
      case Some(spec) =>
        // validate the SHAPE first: a malformed value ('2', 'a/4',
        // '1/2/3') must reach this message, not a MatchError or
        // NumberFormatException from the destructuring
        val parsed = spec.split("/").map(_.trim) match {
          case Array(a, b) if a.matches("\\d+") && b.matches("\\d+") =>
            Some((a.toInt, b.toInt))
          case _ => None
        }
        require(parsed.isDefined,
          s"SPARK_GRAFT_TRANCHE must be i/N with 0 <= i < N, got '$spec'")
        val (i, n) = parsed.get
        require(n >= 1 && i >= 0 && i < n,
          s"SPARK_GRAFT_TRANCHE must be i/N with 0 <= i < N, got '$spec'")
        val per = (filtered.size + n - 1) / n
        val slice = filtered.slice(i * per, (i + 1) * per)
        // ceiling division can leave trailing tranches EMPTY (5 queries
        // at N=4 -> tranche 3 has none); a soak driver looping i=0..N-1
        // would get a silent no-op run. Fail fast with the reason.
        require(slice.nonEmpty,
          s"tranche $i/$n selects no queries (${filtered.size} after " +
            "filtering; ceiling split exhausted them in earlier tranches)")
        slice
      case None => filtered
    }

    // SPARK_GRAFT_PASSES=1 turns bench into a single-pass soak runner
    // (no warm-up, no extra samples): constrained-memory and linearity
    // soaks care about completion + metrics, not steady-state timing,
    // and the warm-up pass would double a multi-minute suite for
    // nothing.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    require(passes >= 1, "SPARK_GRAFT_PASSES must be >= 1")

    // SPARK_GRAFT_SPILL=1: per-query executor spill deltas
    // (memoryBytesSpilled / diskBytesSpilled summed over tasks) from a
    // task-end listener, reported as a "spill" JSON field — the
    // spill-not-OOM evidence a constrained-memory soak exists to
    // produce. Attribution uses the FIRST timed pass only (spill is a
    // plan property, not a noise source), with a stability poll per
    // query because listener events are async.
    val spillTrack = sys.env.contains("SPARK_GRAFT_SPILL")
    val memSpill = new java.util.concurrent.atomic.AtomicLong(0)
    val diskSpill = new java.util.concurrent.atomic.AtomicLong(0)
    if (spillTrack)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = t.taskMetrics
            if (m != null) {
              memSpill.addAndGet(m.memoryBytesSpilled)
              diskSpill.addAndGet(m.diskBytesSpilled)
            }
          }
        })
    def spillNow(): (Long, Long) = {
      var last = (-1L, -1L)
      var stable = 0
      var i = 0
      while (stable < 2 && i < 20) {
        Thread.sleep(100); i += 1
        val v = (memSpill.get(), diskSpill.get())
        if (v == last) stable += 1 else { stable = 0; last = v }
      }
      (memSpill.get(), diskSpill.get())
    }
    val spills =
      scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()

    // Host-speed canary: a fixed, data-independent CPU-bound
    // calibration (mix + sort of a deterministic in-memory long range,
    // min of 3) recorded alongside the suite timings. Two consecutive
    // rounds had cross-round bench comparisons ambiguated by VM-speed
    // variance (r15: a phantom 1.39x "regression" on untouched queries
    // that cost real investigation; the same binary+data measured
    // 1.5-1.7x slower on that round's host). Dividing per-query deltas
    // by the canary ratio separates "the plan changed" from "the host
    // changed" mechanically. Single-threaded on purpose: it calibrates
    // per-core speed (what every task slot sees), not the scheduler.
    def canarySec(): Double = {
      var sink = 0L
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val a = new Array[Long](1 << 22)
        var i = 0
        while (i < a.length) {
          // splitmix64-style mix: cheap, fixed, and incompressible by
          // the JIT into anything data-dependent
          var z = i.toLong * 0x9E3779B97F4A7C15L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          a(i) = z ^ (z >>> 31)
          i += 1
        }
        java.util.Arrays.sort(a)
        sink ^= a(a.length / 2)
        (System.nanoTime() - t0) / 1e9
      }
      if (sink == 42L) System.err.println("") // defeat dead-code elim
      reps.min
    }
    val canary = canarySec()

    // Parallel-throughput canary (r17 measurement fix, old field kept):
    // the single-threaded canary calibrates per-core speed, but this
    // round's baseline measured the whole suite 1.27× slower than r16's
    // artifact at an EQUAL single-core canary — the host's parallel
    // throughput (steal/turbo under all-core load) had moved while
    // per-core speed hadn't, exactly the case canary_sec cannot see.
    // Same splitmix+sort kernel, one array per core, all cores at once,
    // min of 3: "canary_par_sec" calibrates what 32 concurrent task
    // slots actually get.
    // A thread that dies (e.g. OOM allocating its array on a
    // low-memory driver) would otherwise be swallowed by join() and
    // yield a silently-fast bogus value that poisons every
    // canary-normalized comparison — degrade to None (field omitted)
    // so bench_compare falls back to canary_sec on both sides.
    def canaryParSec(): Option[Double] = {
      val n = spark.sparkContext.defaultParallelism
      val died = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val threads = (0 until n).map { t =>
          new Thread(() => {
            try {
              val a = new Array[Long](1 << 22)
              var i = 0
              while (i < a.length) {
                var z = (i.toLong + (t.toLong << 32)) * 0x9E3779B97F4A7C15L
                z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
                z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
                a(i) = z ^ (z >>> 31)
                i += 1
              }
              java.util.Arrays.sort(a)
              if (a(a.length / 2) == 42L) System.err.println("")
            } catch { case _: Throwable => died.set(true) }
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        (System.nanoTime() - t0) / 1e9
      }
      if (died.get()) {
        System.err.println("canary_par_sec: a rep thread died; omitting")
        None
      } else Some(reps.min)
    }
    val canaryPar = canaryParSec()

    // Warm-up pass: run the whole suite once UNTIMED, then time the
    // second pass. A fresh JVM's first execution of a plan shape pays
    // janino compilation + C2 JIT of the whole Catalyst/codegen stack —
    // measured 20+ s on the heavier plans vs ~2 s steady-state. The
    // steady state is what a long-lived cluster actually runs at, and is
    // the number a 100 TB throughput estimate should extrapolate from
    // (same reasoning as JMH warm-up iterations).
    if (passes > 1) {
      spark.range(1 << 20).selectExpr("sum(id)").write
        .mode("overwrite").format("noop").save()
      suite.foreach { case (name, fn) =>
        try SparkEntry.withOverlay(spark, name) {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        } catch { case _: Throwable => () }
      }
    }

    // Two timed passes, min per query. A single pass is hostage to
    // whatever else the host is doing during THAT query's 0.2-30 s slot:
    // round-5 and round-6 ran IDENTICAL code and individual queries
    // swung 60x (0.44 s -> 34 s) purely from machine noise. The min of
    // two spaced samples is a far better estimator of the plan's true
    // cost — noise only ever adds time, never subtracts it. Failures are
    // per-sample, not per-query: a transient pass-1 failure still gets
    // its pass-2 attempt, and a pass-2 failure never erases a valid
    // pass-1 timing — only a query with NO successful sample reports an
    // error (the same reasoning as the min: noise can only lose samples).
    // Soak mode (single pass) DRAINS the cleaner between timed slots
    // instead of just nudging it: the r14 sf10 protocol finding was that
    // System.gc() alone only ENQUEUES dropped broadcast/shuffle refs —
    // the async cleaning thread then competes with the next query's
    // timed slot, inflating tranche values 2-100x (tpch_q7_like 341.6 s
    // first-pass vs 20.4 s isolated). drain() polls the cleaner's
    // reference buffer until the post-GC wave stops shrinking, so debt
    // is paid between slots, not inside them. Multi-pass bench keeps
    // the cheap gc-only nudge: min-of-N already absorbs slot noise and
    // the full drain would add ~0.4 s x 3 passes x suite size.
    val soakDrain = passes == 1
    def interSlot(): Unit =
      if (soakDrain)
        org.apache.spark.graftbridge.CleanerBridge.drain(spark.sparkContext)
      else System.gc()
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    for (pass <- 1 to passes) {
      suite.foreach { case (name, fn) =>
        // Trigger ContextCleaner OUTSIDE the timed slot: cleanup of
        // dropped broadcast/shuffle references is driven by driver GC,
        // which a large heap may never run across a 70-query suite —
        // and a periodic-GC timer would instead fire full GCs INSIDE
        // timed slots, which min-of-two cannot cancel when both passes
        // of a long query absorb one.
        interSlot()
        val spillBase = if (spillTrack && pass == 1) spillNow() else (0L, 0L)
        val t0 = System.nanoTime()
        try {
          SparkEntry.withOverlay(spark, name) {
            fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          }
          val sec = (System.nanoTime() - t0) / 1e9
          timings(name) = timings.get(name).fold(sec)(math.min(_, sec))
          errors.remove(name)
          if (spillTrack && pass == 1) {
            val (m, d) = spillNow()
            spills(name) = (m - spillBase._1, d - spillBase._2)
          }
        } catch {
          case e: Throwable =>
            if (!timings.contains(name))
              errors(name) =
                Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
      }
    }

    // Heavy-tail variance control: min-of-two holds the noise down for
    // sub-second queries, but the >2 s tail still swung 30%+ between
    // rounds (spearman_corr 3.65 vs 4.86 s, same code/SF) — one GC or
    // page-cache event inside a long slot shifts BOTH samples. Queries
    // whose current min exceeds 2 s get a THIRD spaced sample; min of
    // three cuts the chance that every sample absorbed noise.
    suite.foreach { case (name, fn) =>
      if (passes > 1 && timings.get(name).exists(_ > 2.0)) {
        System.gc()
        val t0 = System.nanoTime()
        try {
          SparkEntry.withOverlay(spark, name) {
            fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          }
          val sec = (System.nanoTime() - t0) / 1e9
          timings(name) = math.min(timings(name), sec)
        } catch { case _: Throwable => () /* keep the existing min */ }
      }
    }

    val qs = timings.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    val total = timings.values.sum
    val spillField =
      if (!spillTrack) ""
      else spills.map { case (k, (m, d)) =>
        s"""${q(k)}:{"mem_spilled":$m,"disk_spilled":$d}"""
      }.mkString(""","spill":{""", ",", "}")
    val canaryParField =
      canaryPar.fold("")(v => s""""canary_par_sec":$v,""")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","canary_sec":$canary,$canaryParField"queries":$qs,"errors":$es$spillField,"sf":${q(sfDir)}}"""
    println(line)
    // Durable full-suite artifact: the driver's BENCH_r*.json captures
    // stdout whose tail truncates past ~64 queries, so cross-round
    // per-query comparison kept losing history. The same line goes to a
    // file (override the path via SPARK_GRAFT_BENCH_OUT to snapshot a
    // soak run) and committed copies live next to the SOAK_*.json files.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "target/bench_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"bench_full write failed: ${e.getMessage}") }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
