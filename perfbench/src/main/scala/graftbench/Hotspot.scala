package graftbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.spatial.Dbscan
import Workload._

/** Density clustering of 2-D points — the workload where the components
  * kernel (ops.Adjacency, under Dbscan.dbscanDense) does most of the work.
  *
  * Blobs are jittered square lattices with spacing 0.3·eps and jitter
  * below 0.05·eps, so every blob point has at least three other points
  * within eps (core at minPts 4) and lattice neighbours link the blob into
  * one component. One blob is giant (a long, high-diameter component) and
  * one is a hot cell: all its points inside one eps/4 square. Blobs sit in
  * separate slots of a coarse layout, at least 3·eps apart. The background
  * is a lattice of spacing 2.5·eps with jitter below 0.4·eps, kept 2·eps
  * away from every blob, so no background point has a neighbour: all of it
  * is noise. Each blob must come out as exactly one cluster.
  */
object Hotspot extends Workload {
  val name = "hotspot"
  val version = 1
  val size = 30000L
  val eps = 1.0
  val minPts = 4

  def generate(spark: SparkSession, dir: String, seed: Long, n: Long): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val slot = 60.0 // side of one blob slot; the field is 8 x 8 slots
    val h = 0.3 * eps
    def jit(a: Double) = (rnd.nextDouble() * 2 - 1) * a
    val pts = ArrayBuffer[(Double, Double, Int)]() // (x, y, blob or -1)
    val boxes = ArrayBuffer[(Double, Double, Double, Double)]()
    val slots = rnd.shuffle((0 until 64).toList)
    // blob sizes: one giant (a third of the points), one hot cell, and
    // lattice blobs of seeded side lengths filling most of the rest
    val giantSide = math.sqrt(n / 3.0).toInt
    val sides = giantSide +: Iterator.continually(12 + rnd.nextInt(50))
      .scanLeft((0, 0)) { case ((_, tot), s) => (s, tot + s * s) }.drop(1)
      .takeWhile(_._2 < n * 0.45).map(_._1).toList
    sides.zipWithIndex.foreach { case (side, b) =>
      val s = slots(b % 64)
      // the giant blob spans several slots in a row
      val (x0, y0) = if (b == 0) (3 * eps, 3 * eps)
        else ((s % 8) * slot + 3 * eps, (1 + s / 8) * slot + 3 * eps)
      val cols = if (b == 0) side * side / ((slot - 6 * eps) / h).toInt + 1 else side
      val rows = if (b == 0) ((slot - 6 * eps) / h).toInt else side
      var k = 0
      for (i <- 0 until cols; j <- 0 until rows if k < side * side) {
        pts += ((x0 + i * h + jit(0.04 * eps), y0 + j * h + jit(0.04 * eps), b)); k += 1
      }
      boxes += ((x0, y0, x0 + cols * h, y0 + rows * h))
    }
    // the hot cell: n/20 points inside one eps/4 square
    val hb = sides.size
    val hs = slots(hb % 64)
    val (hx, hy) = ((hs % 8) * slot + slot / 2, (1 + hs / 8) * slot + slot / 2)
    for (_ <- 0 until (n / 20).toInt)
      pts += ((hx + rnd.nextDouble() * eps / 4, hy + rnd.nextDouble() * eps / 4, hb))
    boxes += ((hx, hy, hx + eps / 4, hy + eps / 4))
    // background: sparse jittered lattice over the whole field
    val g = 2.5 * eps
    val span = 8 * slot
    val nb = (span / g).toInt
    def nearBox(x: Double, y: Double) = boxes.exists { case (a, b, c, d) =>
      x > a - 2 * eps && x < c + 2 * eps && y > b - 2 * eps && y < d + 2 * eps }
    for (i <- 0 until nb; j <- 0 until nb + (slot / g).toInt if pts.size < n) {
      val x = i * g + g / 2 + jit(0.4 * eps); val y = j * g + g / 2 + jit(0.4 * eps)
      if (!nearBox(x, y)) pts += ((x, y, -1))
    }
    val ids = rnd.shuffle((0L until pts.size.toLong).toVector)
    spark.createDataset(pts.indices.map(i => (ids(i), pts(i)._1, pts(i)._2)))
      .toDF("id", "x", "y").repartition(8)
      .write.mode("overwrite").parquet(s"$dir/points.parquet")
    writeLines(s"$dir/expected.tsv", pts.indices.map(i => s"${ids(i)}\t${pts(i)._3}"))
  }

  /** (id -> cluster); noise is -1 */
  def open(spark: SparkSession, dir: String): Loaded = new Loaded {
    type R = Map[Long, Long]
    private val points = spark.read.parquet(s"$dir/points.parquet")
    val inputRows: Long = points.count()
    private val blobOf: Map[Long, Int] = readLines(s"$dir/expected.tsv").map { l =>
      val Array(id, b) = l.split("\t"); id.toLong -> b.toInt
    }.toMap

    def run(tr: Option[Tracer], work: File): R =
      step(tr, "spatial.dbscan") {
        Dbscan.dbscanDense(points, eps, minPts).select("id", "cluster")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } { m => (m, m.size.toLong, Map.empty) }

    /** Blob points: one cluster per blob, distinct across blobs.
      * Background points: noise. Every input point exactly once. */
    def check(r: R): Seq[String] = {
      val missing = blobOf.keySet.diff(r.keySet).size
      val extra = r.keySet.diff(blobOf.keySet).size
      val byBlob = blobOf.toSeq.groupBy(_._2).map { case (b, ps) =>
        b -> ps.flatMap(p => r.get(p._1)).toSet
      }
      val split = byBlob.collect { case (b, cs) if b >= 0 && cs.size != 1 =>
        s"blob $b has ${cs.size} labels" }
      val blobLabels = byBlob.collect { case (b, cs) if b >= 0 => cs }.flatten.toSeq
      val merged = blobLabels.size - blobLabels.distinct.size
      val noise = byBlob.getOrElse(-1, Set.empty[Long]).filter(_ != -1L)
      (if (missing + extra > 0) Seq(s"$missing points missing, $extra unexpected") else Nil) ++
        split.take(3) ++
        (if (merged > 0 || blobLabels.contains(-1L)) Seq("blobs merged or labelled noise")
         else Nil) ++
        (if (noise.nonEmpty) Seq(s"background points in clusters ${noise.take(3)}") else Nil)
    }

    def digest(r: R): String = digestOf(r.map { case (k, v) => s"$k:$v" })

    def corrupt(r: R, how: String): R = how match {
      case "drop" => r - r.keys.min
      case _ =>
        val k = blobOf.collectFirst { case (id, b) if b >= 0 => id }.get
        r + (k -> -1L)
    }
  }
}
