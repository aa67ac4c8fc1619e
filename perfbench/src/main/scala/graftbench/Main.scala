package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.chaining._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.GraftBenchBridge
import org.apache.spark.sql.SparkSession
import graft.{Bench, CacheBin, ScaleCalib}

/** Largest heap occupancy right after a collection, over an interval. */
object HeapPeak {
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          HeapPeak.synchronized { if (used > peak) peak = used }
        }
    }, null, null)
    case _ => ()
  }

  def reset(): Unit = synchronized { peak = 0L }

  /** Peak since [[reset]], or the post-GC heap now if no collection ran. */
  def read(): Long = {
    System.gc()
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized(math.max(peak, now))
  }
}

/** One repetition's outcome. */
final case class Rep(wall: Double, heapMb: Double, failures: Seq[String], digest: String,
    layer: Map[String, Double])

/** The benchmark program: one workload, one seed, one closed-loop client.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --root <build dir> [--commit <id>]
  *   graftbench.Main --selftest --root <build dir>
  *
  * Inputs are generated from the seed once and cached under
  * <root>/data/<workload>-v<version>-s<seed>-n<size>. The session is
  * graft.Bench.makeSession at local[nproc]. After five timed set-ups and
  * two or more warm-up repetitions, repetitions run back to back, each a
  * complete result checked outside the timed region, until --seconds of
  * timed work and at least three repetitions have run (one, cold, for a
  * workload without warm-up). The last stdout line is the result JSON.
  */
object Main {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  private var spark: SparkSession = _
  val cpus: Int = Runtime.getRuntime.availableProcessors

  def session(): SparkSession = {
    spark = Bench.makeSession(cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The cached input directory, generated first if missing. */
  def inputs(w: Workload, root: File, seed: Long, size: Long): String = {
    val data = new File(root, "data")
    val dir = new File(data, s"${w.name}-v${w.version}-s$seed-n$size")
    if (!new File(dir, "_DONE").exists()) {
      val tmp = new File(data, dir.getName + ".tmp")
      deleteTree(tmp); tmp.mkdirs()
      w.generate(spark, tmp.getPath, seed, size)
      Files.write(Paths.get(tmp.getPath, "_DONE"), Array.emptyByteArray)
      deleteTree(dir)
      Files.move(tmp.toPath, dir.toPath)
      // keep the cache bounded: the six most recent inputs per workload
      Option(data.listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith(w.name + "-") && f != dir)
        .sortBy(-_.lastModified).drop(5).foreach(deleteTree)
    }
    dir.getPath
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def calib(): Double = {
    ScaleCalib.kernel(spark, 100000000L, cpus * 2) // compiles the kernel
    val n = 1000000000L
    val t0 = System.nanoTime()
    ScaleCalib.kernel(spark, n, cpus * 2)
    n / ((System.nanoTime() - t0) / 1e9) / 1e9
  }

  /** Runs one repetition; with a listener, traced, and its trace checked. */
  def rep(l: Loaded, work: File, i: Int, listener: Option[GroupListener],
      reference: Option[String]): (Rep, Option[Tracer]) = {
    CacheBin.drain(blocking = true)
    deleteTree(work); work.mkdirs()
    HeapPeak.read(); HeapPeak.reset()
    val sc = spark.sparkContext
    val tr = listener.map(new Tracer(sc, _, i))
    listener.foreach(_ => GraftBenchBridge.drainListeners(sc))
    val jobs0 = listener.map(x => (x.totalJobs, x.unattributedJobs))
    val t0 = System.nanoTime()
    val out: Either[Throwable, l.R] =
      try Right(l.run(tr, work)) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    log(f"rep $i${if (tr.isDefined) " traced" else ""}: $wall%.3f s")
    CacheBin.drain()
    val heapMb = HeapPeak.read() / 1e6
    out match {
      case Left(e) =>
        (Rep(wall, heapMb, Seq(s"run failed: $e"), "", Map.empty), tr)
      case Right(r) =>
        val digest = l.digest(r)
        val traceFailures = tr.toSeq.flatMap { t =>
          GraftBenchBridge.drainListeners(sc)
          val lst = listener.get
          val (j0, u0) = jobs0.get
          val spanS = t.spans.map(_.seconds).sum
          Seq(
            Option.when(t.jobsInSpans != lst.totalJobs - j0)(
              s"trace: span jobs ${t.jobsInSpans} != listener jobs ${lst.totalJobs - j0}"),
            Option.when(lst.unattributedJobs != u0)("trace: jobs outside any span"),
            Option.when(reference.exists(_ != digest))("trace: traced output differs"),
            Option.when(spanS < 0.95 * wall - 0.05)(
              f"trace: spans cover $spanS%.3f s of $wall%.3f s")
          ).flatten
        }
        val layer = tr.map { t =>
          sc.setJobGroup(t.group("probe"), "probe", interruptOnCancel = false)
          try t.metrics() ++ l.probe(r) finally sc.clearJobGroup()
        }.getOrElse(Map.empty)
        (Rep(wall, heapMb, l.check(r) ++ traceFailures, digest, layer), tr)
    }
  }

  def main(args: Array[String]): Unit = {
    val root = new File(arg(args, "--root").getOrElse(".bench_build"))
    if (args.contains("--selftest")) sys.exit(SelfTest.run(root))
    val w = Workload.byName(arg(args, "--workload").getOrElse(
      throw new IllegalArgumentException("--workload is required")))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
    HeapPeak.install()

    // inputs are generated (or found in the cache) before any set-up
    session()
    val g0 = System.nanoTime()
    val dir = inputs(w, root, seed, w.size)
    val genS = (System.nanoTime() - g0) / 1e9
    log(f"inputs ready in $genS%.3f s: $dir")
    // set-up: a fresh session plus the opened input tables, five times;
    // stopping the previous session is not part of it
    var loaded: Loaded = null
    val setups = (1 to 5).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      session()
      loaded = w.open(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    val readyS = (System.currentTimeMillis() - processStart) / 1e3 - genS
    val l = loaded
    log(s"set-ups: ${setups.map(x => f"$x%.3f").mkString(" ")} s")
    val calibStart = calib()
    val work = new File(root, s"work/${w.name}")
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)

    // warm-up: two repetitions and at least 5 s (the second repetition of a
    // multi-job workload is still ~15% slower than later ones), unless the
    // workload's user pays the cold run on every process (then the first
    // repetition is the measured one); the traced run always warms up, so
    // its overhead compares warm runs
    val warm = ArrayBuffer[Rep]()
    while ((w.warmUp || traced) && (warm.size < 2 || warm.map(_.wall).sum < 5.0))
      warm += rep(l, work, -warm.size, None, None)._1
    // at least three timed repetitions, so the median is one of several
    // samples whatever the machine's speed; a cold-measured workload times
    // only its first
    val minReps = if (w.warmUp) 3 else 1
    val untracedBudget = if (traced) seconds / 2 else seconds
    val plain = ArrayBuffer[Rep]()
    while (plain.size < minReps || plain.map(_.wall).sum < untracedBudget)
      plain += rep(l, work, plain.size + 1, None, None)._1
    val tracedReps = ArrayBuffer[Rep]()
    val spans = ArrayBuffer[String]()
    if (traced) {
      val ref = Some(plain.head.digest).filter(_.nonEmpty)
      while (tracedReps.size < minReps || tracedReps.map(_.wall).sum < seconds / 2) {
        val (r, tr) = rep(l, work, 100 + tracedReps.size, Some(listener), ref)
        tracedReps += r
        tr.foreach(_.spans.foreach { s =>
          spans += f"""{"rep":${tracedReps.size},"name":"${s.name}","parent":"${s.parent
            .getOrElse("")}","start_ms":${s.startMs},"end_ms":${s.endMs},"rows_out":${s.rowsOut}}"""
        })
      }
    }
    val calibEnd = calib()
    val all = warm ++ plain ++ tracedReps
    all.flatMap(_.failures).distinct.take(10).foreach(f => log(s"FAIL $f"))

    val timed = plain.toSeq ++ tracedReps
    val attempted = timed.size
    val failed = timed.count(_.failures.nonEmpty)
    val wall = median(plain.map(_.wall).toSeq)
    val e2e = Seq(
      ("wall_s", wall, "s"),
      ("rows_per_s", l.inputRows / wall, "1/s"),
      ("setup_s", median(setups.toSeq), "s"),
      ("peak_heap_mb", median(plain.map(_.heapMb).toSeq), "MB"),
      ("error_rate", failed.toDouble / attempted, "ratio"))
    val perLayer: Seq[(String, Double, String)] = if (!traced) Nil else {
      val keys = tracedReps.flatMap(_.layer.keys).distinct
      val measured = keys.map(k => k -> median(tracedReps.flatMap(_.layer.get(k)).toSeq)).toMap
      val overhead = 100.0 * (median(tracedReps.map(_.wall).toSeq) / wall - 1.0)
      Layers.reported(w.name).map { case (k, unit) => (k, measured.getOrElse(k, 0.0), unit) } :+
        (("trace.overhead_pct", overhead, "%"))
    }
    val host = Seq(
      "workload" -> s""""${w.name}"""", "seed" -> seed.toString, "nproc" -> cpus.toString,
      "calib_start_brow_s" -> f"$calibStart%.3f", "calib_end_brow_s" -> f"$calibEnd%.3f",
      "jvm" -> s""""${System.getProperty("java.version")}"""",
      "spark" -> s""""${spark.version}"""",
      "commit" -> s""""${arg(args, "--commit").getOrElse("unknown")}"""",
      "input_rows" -> l.inputRows.toString,
      "process_start_to_ready_s" -> f"$readyS%.3f", "input_generation_s" -> f"$genS%.3f",
      "reps" -> plain.size.toString, "traced_reps" -> tracedReps.size.toString)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val shown = if (traced) perLayer else e2e
    shown.foreach { case (k, v, u) => println(f"${w.name}%-9s $k%-36s $v%16.6f $u") }
    println(s"# host $host")
    val metrics = shown.filter(_._1 != "error_rate")
      .map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
    val result = s"""{"correct":${failed == 0 && warm.forall(_.failures.isEmpty)},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$metrics}"""
    val results = new File(root, "results"); results.mkdirs()
    Workload.writeLines(new File(results, s"${w.name}-s$seed-t${if (traced) 1 else 0}.json").getPath,
      Seq(s"""{"host":$host,"result":$result}"""))
    if (traced) Workload.writeLines(new File(root, s"trace/${w.name}-s$seed.jsonl")
      .tap(_.getParentFile.mkdirs()).getPath, spans)
    spark.stop()
    println(result)
  }
}

/** The per-layer metrics: spans `<layer>.<call>` per workload, each with
  * the same per-span metrics, and a few span-specific ones. */
object Layers {
  val spans: Map[String, Seq[String]] = Map(
    "geotag" -> Seq("sources.scan", "spatial.pip_join", "spatial.knn"),
    "cadastre" -> Seq("pipeline.run_multi", "sources.task_write"),
    "corpus" -> Seq("text.filter", "dedup.pairs", "dedup.keep"),
    "hotspot" -> Seq("spatial.dbscan"))
  val perSpan: Seq[(String, String)] = Seq("self_s" -> "s", "driver_s" -> "s",
    "jobs" -> "count", "task_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "task_skew" -> "ratio",
    "failed_tasks" -> "count", "rows_out" -> "count")
  val extra: Seq[(String, String)] = Seq("spatial.pip_join.hit_ratio" -> "ratio",
    "pipeline.run_multi.stages_computed" -> "count", "sources.task_write.mb_out" -> "MB")

  def of(workload: String): Seq[(String, String)] = spans(workload).flatMap { s =>
    perSpan.map { case (m, u) => s"$s.$m" -> u } ++ extra.filter(_._1.startsWith(s + "."))
  }

  /** What a traced run reports: the metrics of the workloads registered in
    * BENCHMARK.json, 0 for a span this workload does not run, then this
    * workload's own when it is not one of those. */
  val registered: Seq[String] = Seq("geotag", "corpus")
  def reported(workload: String): Seq[(String, String)] =
    (registered.flatMap(of) ++ of(workload)).distinct
}
