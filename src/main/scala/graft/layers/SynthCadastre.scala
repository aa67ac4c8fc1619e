package graft.layers

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.Pt

/** A building footprint: square rings in a cluster row (deterministic).
  * localId semantics follow the reference ConsLayer (cons.py:59-77):
  * buildings in the same cluster share full wall segments. */
final case class Building(bid: Long, cluster: Long, zone: Long, ring: Array[Pt])

/** Deterministic synthetic cadastre layer, derived from the events table's
  * row count only (so the DuckDB oracle can reproduce every derived value
  * with integer arithmetic; geometry exists only engine-side).
  *
  * Layout: cluster k holds m_k = (k % 4) + 2 buildings, each a 10×10 square
  * at x0 = (k % 10)*100 + j*10, y0 = (k / 10)*100 — buildings of a cluster
  * touch along full vertical edges, so shared-segment adjacency components
  * must recover exactly the clusters. bid = k*10 + j (j < 5 always, so
  * k = bid div 10 — the oracle's closed form).
  */
object SynthCadastre {
  val MaxPerCluster = 5
  val Size = 10.0

  def nClusters(spark: SparkSession, sfDir: String): Long =
    spark.read.parquet(s"$sfDir/events.parquet").count() / 100

  def buildings(spark: SparkSession, sfDir: String): Dataset[Building] = {
    import spark.implicits._
    val k = nClusters(spark, sfDir)
    spark.range(0L, k * MaxPerCluster)
      .select(
        col("id").as("bid"),
        expr(s"id div $MaxPerCluster").as("cluster"),
        (col("id") % MaxPerCluster).as("j"))
      .filter(col("j") < col("cluster") % 4 + 2)
      .as[(Long, Long, Long)]
      .map { case (bid, cluster, j) =>
        val x0 = (cluster % 10) * 100.0 + j * Size
        val y0 = (cluster / 10) * 100.0
        Building(bid, cluster, cluster / 10,
          Array(Pt(x0, y0), Pt(x0 + Size, y0), Pt(x0 + Size, y0 + Size), Pt(x0, y0 + Size)))
      }
  }

  /** Parcels for tiling: one per building, parts=1, zone = cluster div 10.
    * parts=1 makes the sequential greedy pack (cap 20) coincide with the
    * closed form (rank-1) div 20, which the oracle can express. */
  def parcels(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    buildings(spark, sfDir)
      .map(b => (b.bid, b.zone, 1L))
      .toDF("parcel_id", "zone", "parts")
  }

  /** Addresses: one per building, offset outside the square to its left
    * (px = x0 - 3.37, py = y0 + 4.13) — the nearest building edge is the
    * left wall, so the conjoin projection is (x0, y0 + 4.13). */
  def addresses(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    buildings(spark, sfDir)
      .map { b =>
        val x0 = b.ring(0).x; val y0 = b.ring(0).y
        (b.bid, x0 - 3.37, y0 + 4.13)
      }
      .toDF("bid", "px", "py")
  }
}
