package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.geom.Pt
import graft.geom.Geom.MultiPolygon
import graft.layers.SynthMuni
import graft.ops.ParcelOps
import graft.ops.ParcelOps.{ConsF, Parcel}
import graft.pipeline.{AppRun, CheckpointedPipeline}
import graft.pipeline.AppRun.{MunAddr, MunSeqCons}
import graft.sources.OsmOut
import Workload._

/** The paper's own end-to-end use: a multi-municipality cadastre through
  * AppRun.runMulti with every stage checkpointed, then one task file per
  * task, as RunPipeline does.
  *
  * The cadastre follows SynthMuni's closed-form shape — unit-square
  * buildings in 5-building clusters 500 m apart, a coincident part on every
  * third building, parcels only for even k (the gaps create_missing_parcels
  * fills), an Entrance address for even k and a non-entrance one for odd k
  * — but with seeded, skewed municipality sizes: one large municipality and
  * many small ones. For a municipality of K = 5t buildings the outputs are
  * t tasks, K features, K addresses, ceil(K/2) entrances and ceil(K/3)
  * merged parts (the q_apprun_multi closed forms).
  */
object Cadastre extends Workload {
  val name = "cadastre"
  val version = 1
  /** A cadastre run is one process per municipality set: its user pays the
    * cold first repetition every time, so that is the one measured. */
  override val warmUp = false
  /** Buildings over all municipalities, approximately. */
  val size = 3000L

  private def square(x0: Double, y0: Double): MultiPolygon =
    Array(Array(Array(Pt(x0, y0), Pt(x0 + 1, y0), Pt(x0 + 1, y0 + 1), Pt(x0, y0 + 1))))

  /** Clusters (t) per municipality: one takes about 40% of `size`, the rest
    * split the remainder unevenly. */
  private def plan(seed: Long, size: Long): Seq[(Int, Int)] = {
    val rnd = new scala.util.Random(seed)
    val nMuns = 10 + rnd.nextInt(6)
    val big = rnd.nextInt(nMuns)
    val tTotal = (size / 5).toInt
    val tBig = (tTotal * (0.35 + 0.1 * rnd.nextDouble())).toInt
    val w = Seq.fill(nMuns - 1)(0.2 + rnd.nextDouble())
    val small = w.map(x => math.max(2, (x / w.sum * (tTotal - tBig)).toInt))
    val ts = small.take(big) ++ Seq(tBig) ++ small.drop(big)
    ts.zipWithIndex.map { case (t, m) => (m, t) }
  }

  def generate(spark: SparkSession, dir: String, seed: Long, size: Long): Unit = {
    import spark.implicits._
    val muns = plan(seed, size)
    def label(m: Int) = f"M$m%02d"
    val rows = for ((m, t) <- muns; k <- 0L until 5L * t) yield (m, k)
    val cons = rows.flatMap { case (m, k) =>
      val c = k / 5; val s = k % 5
      val l = SynthMuni.lidWide(c, m, k)
      val ring = square(c * 500.0 + s * 5.0, m * 100000.0)
      val b = MunSeqCons(label(m), 2 * k, ConsF(l, l, "building", 2, 0, ring))
      if (k % 3 == 0)
        Seq(b, MunSeqCons(label(m), 2 * k + 1, ConsF(l + "P1", l, "part", 3, 0, ring)))
      else Seq(b)
    }
    val parcels = rows.collect { case (m, k) if k % 2 == 0 =>
      ParcelOps.MunParcel(label(m), k, Parcel(SynthMuni.lidWide(k / 5, m, k), null, 0,
        square((k / 5) * 500.0 + (k % 5) * 5.0, m * 100000.0)))
    }
    val addrs = rows.map { case (m, k) =>
      val c = k / 5; val x0 = c * 500.0 + (k % 5) * 5.0; val y0 = m * 100000.0
      val ref = SynthMuni.lidWide(c, m, k)
      if (k % 2 == 0) MunAddr(label(m), s"A$m-$k", ref, "Entrance", x0 - 0.3, y0 + 0.5)
      else MunAddr(label(m), s"A$m-$k", ref, "Parcel", x0 + 0.5, y0 + 0.5)
    }
    spark.createDataset(cons).repartition(8).write.mode("overwrite").parquet(s"$dir/cons.parquet")
    spark.createDataset(parcels).repartition(8).write.mode("overwrite")
      .parquet(s"$dir/parcels.parquet")
    spark.createDataset(addrs).repartition(8).write.mode("overwrite")
      .parquet(s"$dir/addresses.parquet")
    writeLines(s"$dir/expected.tsv", muns.map { case (m, t) => s"${label(m)}\t$t" })
  }

  /** Per-municipality metrics (key -> value) and the task files written. */
  final case class Out(metrics: Map[(String, String), Long], files: Seq[(String, Long)])

  private val keys = Seq("tasks", "out_features", "out_address", "out_address_entrance",
    "parts_to_outline")

  def open(spark: SparkSession, dir: String): Loaded = new Loaded {
    type R = Out
    import spark.implicits._
    private val cons = spark.read.parquet(s"$dir/cons.parquet").as[MunSeqCons]
    private val parcels = spark.read.parquet(s"$dir/parcels.parquet").as[ParcelOps.MunParcel]
    private val addrs = spark.read.parquet(s"$dir/addresses.parquet").as[MunAddr]
    private val perMun: Map[String, Long] = readLines(s"$dir/expected.tsv").map { l =>
      val Array(m, t) = l.split("\t"); m -> t.toLong
    }.toMap
    val inputRows: Long = perMun.values.sum * 5
    private val expected: Map[(String, String), Long] = perMun.flatMap { case (m, t) =>
      val k = 5 * t
      Seq("tasks" -> t, "out_features" -> k, "out_address" -> k,
        "out_address_entrance" -> (k + 1) / 2, "parts_to_outline" -> (k + 2) / 3)
        .map { case (key, v) => (m, key) -> v }
    }

    def run(tr: Option[Tracer], work: File): Out = {
      val cp = new CheckpointedPipeline(spark, new File(work, "stages").getPath)
      val mr = step(tr, "pipeline.run_multi") {
        AppRun.runMulti(spark, cons, parcels, addrs, SynthMuni.munOfWide,
          checkpoint = Some((cp, s"graftbench:$dir")))
      } { mr =>
        val docs = graft.CacheBin.persist(mr.taskDocs)
        (mr.copy(taskDocs = docs), docs.count(),
          Map("stages_computed" -> cp.computedStages.toDouble))
      }
      val tasksDir = new File(work, "tasks")
      step(tr, "sources.task_write") {
        OsmOut.writeTaskFiles(mr.taskDocs.map(d => (d.label, d.xml)), tasksDir.getPath)
      } { n => (n, n, Map("mb_out" -> listFiles(tasksDir).map(_._2).sum / 1e6)) }
      val m = mr.metrics.collect { case (mun, key, v) if keys.contains(key) => (mun, key) -> v }
      Out(m.toMap, listFiles(tasksDir))
    }

    private def listFiles(d: File): Seq[(String, Long)] =
      Option(d.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".osm.gz"))
        .map(f => f.getName -> f.length())

    def check(r: Out): Seq[String] = {
      val nTasks = perMun.values.sum
      diff("metric", expected, r.metrics) ++
        (if (r.files.size != nTasks) Seq(s"task files: expected $nTasks, got ${r.files.size}")
         else Nil) ++
        r.files.filter(_._2 == 0).take(1).map(f => s"empty task file ${f._1}")
    }

    def digest(r: Out): String = digestOf(
      r.metrics.map { case ((m, k), v) => s"$m/$k:$v" } ++ r.files.map(_._1))

    def corrupt(r: Out, how: String): Out = how match {
      case "drop" => r.copy(files = r.files.drop(1))
      case _ =>
        val (k, v) = r.metrics.head
        r.copy(metrics = r.metrics - k + ((k._1 + "x", k._2) -> v))
    }
  }
}
