package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import graft.{GraftSession, SparkEntry}

/** Per-query breakdown profiler for optimization rounds: runs named
  * registered queries through the bench's noop-sink methodology (one
  * warm pass, then N timed passes) with a listener that attributes
  * wall-clock to Spark jobs/stages/tasks, so "where does this query's
  * 3 s go" is answered with counts instead of guesses.
  *
  * Usage: runMain graft.tools.QueryProfile q1[,q2,...] [timedPasses]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProfile q1[,q2,...] [timedPasses]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val passes = if (args.length > 1) args(1).toInt else 2
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nJobs = new AtomicInteger(0)
    val nStages = new AtomicInteger(0)
    val nTasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0)
    val jobStarts = new ConcurrentHashMap[Int, Long]()
    val jobLines =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (record) {
          nJobs.incrementAndGet()
          jobStarts.put(j.jobId, System.nanoTime())
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (record) {
          val t0 = jobStarts.remove(j.jobId)
          if (t0 != 0L) {
            val ms = (System.nanoTime() - t0) / 1e6
            jobLines.add(f"    job ${j.jobId}%4d  $ms%8.1f ms")
          }
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (record) nStages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (record) {
          nTasks.incrementAndGet()
          val m = t.taskMetrics
          if (m != null) taskMs.addAndGet(m.executorRunTime)
        }
    })

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // both passes run under the query's conf overlay, the
      // configuration Bench and Verify run
      def run(): Unit = SparkEntry.withOverlay(spark, name) {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      }
      // warm pass (codegen + JIT), untimed
      try run()
      catch { case e: Throwable =>
        println(s"$name WARM FAILED: ${e.getMessage}") }
      val samples = (1 to passes).map { p =>
        System.gc()
        nJobs.set(0); nStages.set(0); nTasks.set(0); taskMs.set(0)
        jobLines.clear()
        record = true
        val t0 = System.nanoTime()
        run()
        val sec = (System.nanoTime() - t0) / 1e9
        record = false
        Thread.sleep(200) // let listener events drain
        println(f"$name pass $p: $sec%7.3f s  jobs=${nJobs.get}%3d " +
          f"stages=${nStages.get}%3d tasks=${nTasks.get}%5d " +
          f"taskTime=${taskMs.get / 1000.0}%8.2f s")
        if (sys.env.contains("SPARK_GRAFT_PROFILE_JOBS")) {
          val arr = jobLines.toArray(new Array[String](0))
          arr.sortBy(identity[String]).foreach(println)
        }
        sec
      }
      println(f"$name MIN: ${samples.min}%7.3f s")
    }
    spark.stop()
  }
}
