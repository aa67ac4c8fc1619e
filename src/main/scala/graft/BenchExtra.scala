package graft
import org.apache.spark.sql.SparkSession

/** Optimization-round profiling harness (guide §1.4) — SEPARATE from the
  * frozen graft.Bench. Times an arbitrary subset of SparkEntry.queries
  * through the noop sink (computes every column, no sink cost, no
  * result-collection cost) and optionally dumps .explain("formatted") per
  * query. Usage:
  *
  *   sbt "runMain graft.BenchExtra q_scc q_dbscan"          # time via noop
  *   sbt "runMain graft.BenchExtra -plans /tmp/plans q_scc" # also dump plans
  *   sbt "runMain graft.BenchExtra -n 3 q_scc"              # repeats
  *
  * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench (same session
  * config), prints one JSON line with per-query seconds (min over repeats),
  * job counts and shuffle-write MB.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    var plansDir: Option[String] = None
    var repeats = 2
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-plans" => plansDir = Some(args(i + 1)); i += 2
        case "-n" => repeats = args(i + 1).toInt; i += 2
        case q => names += q; i += 1
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.makeSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries("q_zone_count")(spark, "/root/testdata/sf0.001").count()
    val calib0 = Bench.calibBrowPerSec(spark, cpus.toInt)
    System.err.println(f"[extra] calib_start ${calib0}%.2f Brow/s")

    val jobCounter = new java.util.concurrent.atomic.AtomicLong
    // per-stage wall + task-time profile (empirical loop, guide §1.1):
    // stageProfile accumulates (stage name head, n, wall ms, task ms)
    val stageProf = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobCounter.incrementAndGet()
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = (for {s <- si.submissionTime; c <- si.completionTime}
            yield c - s).getOrElse(0L)
          val task = si.taskMetrics.executorRunTime
          val cpu = si.taskMetrics.executorCpuTime / 1000000L
          val gc = si.taskMetrics.jvmGCTime
          val key = si.name.split(" at ").headOption.getOrElse(si.name)
          stageProf.merge(key, Array(1L, wall, task, cpu, gc),
            (a, b) => Array(a(0) + b(0), a(1) + b(1), a(2) + b(2), a(3) + b(3),
              a(4) + b(4)))
        }
      })
    val shuffleBytes = Scale.shuffleCounter(spark)
    val out = scala.collection.mutable.LinkedHashMap[String, (Double, Long, Double)]()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      plansDir.foreach { pd =>
        new java.io.File(pd).mkdirs()
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val w = new java.io.PrintWriter(s"$pd/$name.txt")
        w.write(plan); w.close()
        CacheBin.drain()
      }
      val times = (1 to repeats).map { _ =>
        val j0 = jobCounter.get(); val s0 = shuffleBytes.get()
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(name)
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val el = (System.nanoTime() - t0) / 1e9
        CacheBin.drain()
        org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
        (el, jobCounter.get() - j0, (shuffleBytes.get() - s0) / 1e6)
      }
      val best = times.minBy(_._1)
      out(name) = best
      System.err.println(f"[extra] $name%-24s ${best._1}%8.3f s  jobs=${best._2}  shuffle=${best._3}%.1f MB  (all: ${times.map(t => f"${t._1}%.2f").mkString(",")})")
      if (sys.env.contains("SPARK_GRAFT_STAGEPROF")) {
        import scala.jdk.CollectionConverters._
        stageProf.asScala.toSeq.sortBy(-_._2(1)).take(10).foreach {
          case (k, a) =>
            System.err.println(f"[stage] $name ${a(1) / 1e3}%7.2fs wall ${a(2) / 1e3}%8.2fs task ${a(3) / 1e3}%8.2fs cpu ${a(4) / 1e3}%6.2fs gc n=${a(0)}%-4d $k")
        }
        stageProf.clear()
      }
    }
    val calib1 = Bench.calibBrowPerSec(spark, cpus.toInt)
    System.err.println(f"[extra] calib_end ${calib1}%.2f Brow/s")
    val qs = out.map { case (k, (s, j, m)) =>
      "\"" + k + "\":{" + f""""sec":$s%.3f,"jobs":$j,"shuffle_mb":$m%.1f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"extra","sf":"$sfDir","cpus":"$cpus","queries":$qs,"calib":[${f"$calib0%.2f"},${f"$calib1%.2f"}]}""")
    spark.stop()
  }
}
