package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-span Spark metrics, aggregated by job group.
  *
  * The traced run gives every span its own job group; this listener maps
  * each job and stage to the group that was set when the job started and
  * folds task metrics into it. Jobs started with no group are counted as
  * unattributed so the trace self-test can prove no job escaped a span.
  */
final class GroupListener extends SparkListener {
  final class Agg {
    var jobs = 0L
    var taskS = 0.0
    var cpuS = 0.0
    var gcS = 0.0
    var shuffleWriteB = 0L
    var spillB = 0L
    var failedTasks = 0L
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]() // (start ms, end ms)
    val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  }

  private val groups = new ConcurrentHashMap[String, Agg]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile var totalJobs = 0L
  @volatile var unattributedJobs = 0L

  private def agg(g: String): Agg = groups.computeIfAbsent(g, _ => new Agg)

  def get(g: String): Option[Agg] = Option(groups.get(g))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    totalJobs += 1
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    g match {
      case Some(name) =>
        agg(name).jobs += 1
        jobGroup.put(e.jobId, name)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageGroup.put(s, name))
      case None => unattributedJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobGroup.get(e.jobId)).foreach { g =>
      agg(g).jobSpans += ((jobStart.get(e.jobId).longValue, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val a = agg(g)
      if (e.taskInfo.failed || e.taskInfo.killed) a.failedTasks += 1
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.taskS += m.executorRunTime / 1e3
        a.cpuS += m.executorCpuTime / 1e9
        a.gcS += m.jvmGCTime / 1e3
        a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** One traced span: a named call into a layer, with its interval and
  * parent (the repetition; spans of one repetition do not nest). */
final case class Span(name: String, parent: Option[String], startNs: Long,
    endNs: Long, startMs: Long, endMs: Long, rowsOut: Long,
    extra: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans of one traced repetition, kept in memory. */
final class Tracer(sc: SparkContext, val listener: GroupListener, rep: Int) {
  val spans = mutable.ArrayBuffer[Span]()

  def group(name: String): String = s"rep$rep:$name"

  /** Runs `body` as span `name` under its own job group. `body` returns
    * its materialized row count (the barrier) and any span-specific
    * metrics. */
  def span[T](name: String)(body: => (T, Long, Map[String, Double])): T = {
    sc.setJobGroup(group(name), name, interruptOnCancel = false)
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try {
      val (out, rows, extra) = body
      val t1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
      spans += Span(name, Some("rep"), t0, t1, ms0, ms1, rows, extra)
      out
    } finally sc.clearJobGroup()
  }

  /** Per-span metrics in the benchmark's naming, `<span>.<metric>`.
    * Call after the listener bus has drained. */
  def metrics(): Map[String, Double] = spans.flatMap { s =>
    val a = listener.get(group(s.name)).getOrElse(new listener.Agg)
    val covered = coveredMs(a.jobSpans.toSeq, s.startMs, s.endMs) / 1e3
    val skew = a.stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val sorted = ts.sorted
      val med = sorted(sorted.size / 2).max(1L)
      sorted.last.toDouble / med
    }.foldLeft(1.0)(math.max)
    val base = Map(
      "self_s" -> s.seconds,
      "driver_s" -> math.max(0.0, s.seconds - covered),
      "jobs" -> a.jobs.toDouble,
      "task_s" -> a.taskS,
      "cpu_s" -> a.cpuS,
      "gc_s" -> a.gcS,
      "shuffle_write_mb" -> a.shuffleWriteB / 1e6,
      "spill_mb" -> a.spillB / 1e6,
      "task_skew" -> skew,
      "failed_tasks" -> a.failedTasks.toDouble,
      "rows_out" -> s.rowsOut.toDouble) ++ s.extra
    base.map { case (k, v) => s"${s.name}.$k" -> v }
  }.toMap

  def jobsInSpans: Long =
    spans.map(s => listener.get(group(s.name)).map(_.jobs).getOrElse(0L)).sum

  /** Length of the union of job intervals clipped to [lo, hi], in ms. */
  private def coveredMs(jobs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = jobs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
