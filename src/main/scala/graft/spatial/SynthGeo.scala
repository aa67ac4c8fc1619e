package graft.spatial

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.Pt

/** Deterministic synthetic geo layer over the driver's `events` table.
  *
  * The graft input is a web-pages table with per-page geotags; this module
  * derives the geotags deterministically (pure integer arithmetic on
  * event_id, identical in Spark and ANSI SQL, so the DuckDB oracle can
  * reproduce them bit-for-bit) and synthesizes the polygon side (admin zones
  * as diamonds = convex 4-gons) and the site side (kNN targets).
  *
  * All literals are emitted into oracle SQL via Double.toString (shortest
  * round-trip), so both engines parse the exact same binary64 values; all
  * shapes keep points >= 0.003 away from zone boundaries (coords have 2
  * decimals, zone params 3), so PIP classification is fp-robust.
  */
object SynthGeo {
  /** Points from events: x = ((event_id*7919) % 10000)/100. */
  def points(spark: SparkSession, sfDir: String): Dataset[IdPoint] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/events.parquet")
      .select(
        col("event_id").as("id"),
        (col("event_id") * lit(7919L) % lit(10000L) / lit(100.0)).as("x"),
        (col("event_id") * lit(104729L) % lit(10000L) / lit(100.0)).as("y"))
      .as[IdPoint]
  }

  /** SQL fragment computing the same points in DuckDB. */
  val pointsSql: String =
    "SELECT event_id AS id, ((event_id*7919)%10000)/100.0 AS x, " +
      "((event_id*104729)%10000)/100.0 AS y FROM events"

  /** Diamond zone parameters (zone_id, cx, cy, r). */
  val zoneParams: Seq[(Long, Double, Double, Double)] =
    (0L until 12L).map { k =>
      val cx = 12.505 + (k % 4) * 25.0
      val cy = 16.505 + (k / 4) * 33.0
      val r = 9.003 + (k % 5) * 2.4
      (k, cx, cy, r)
    }

  /** Diamond ring (open, CCW): the generic-polygon form the engine consumes
    * — the engine never special-cases diamonds; only the oracle does. */
  def diamond(cx: Double, cy: Double, r: Double): Array[Array[Array[Pt]]] =
    Array(Array(Array(Pt(cx + r, cy), Pt(cx, cy + r), Pt(cx - r, cy), Pt(cx, cy - r))))

  def zones: Seq[Zone] = zoneParams.map { case (k, cx, cy, r) =>
    Zone(k, f"$k%05d", if (k % 3 == 0) "P" else "M", diamond(cx, cy, r))
  }

  /** DuckDB VALUES table for the zones. */
  val zonesSql: String = zoneParams
    .map { case (k, cx, cy, r) => s"($k, $cx, $cy, $r)" }
    .mkString("(VALUES ", ", ", ") AS z(zone_id, cx, cy, r)")

  // ---- axis-aligned zones for the ≥50%-area assignment oracle ----------
  //
  // Rectangles make the clipped overlap closed-form (w_x × w_y), so the
  // area rule gets a DuckDB-gateable oracle while the ENGINE still runs its
  // generic convex-clipping operator. Design guarantees an fp margin:
  // zone x-bounds sit on a 0.005 offset from the parcels' 0.01 coordinate
  // grid, so the w_x >= 2 decision is never closer than 0.005 to the
  // boundary (clipping noise is ~1e-11); zones span their whole 33-unit
  // row in y and parcels sit strictly inside it, so w_y is exactly 4.
  /** (zone_id, zx0, zx1, row): 3 rows × 4 columns of rectangles. */
  val rectZoneParams: Seq[(Long, Double, Double, Long)] =
    (0L until 12L).map { k =>
      val zx0 = (k % 4) * 25.0 + 3.005
      val width = 12.0 + (k % 3) * 3.0
      (k, zx0, zx0 + width, k / 4)
    }

  def rectZones: Seq[Zone] = rectZoneParams.map { case (k, zx0, zx1, row) =>
    val y0 = row * 33.0; val y1 = y0 + 33.0
    Zone(k, f"$k%05d", if (k % 3 == 0) "P" else "M",
      Array(Array(Array(Pt(zx0, y0), Pt(zx1, y0), Pt(zx1, y1), Pt(zx0, y1)))))
  }

  /** DuckDB VALUES table for the rect zones. */
  val rectZonesSql: String = rectZoneParams
    .map { case (k, zx0, zx1, row) => s"($k, $zx0, $zx1, $row)" }
    .mkString("(VALUES ", ", ", ") AS z(zone_id, zx0, zx1, zrow)")

  // ---- value-carrying integer zones for areal interpolation ------------
  //
  // Every coordinate is an INTEGER and every zone area w·h is 2^a·5^b with
  // a,b <= 6, so each exact cell share v·overlap/(w·h) has <= 6 decimal
  // places: round(·,6) recovers the exact decimal in BOTH engines and the
  // clip kernel's ~1e-13 fp noise can never straddle a rounding boundary.
  // Bounds avoid multiples of 10, so no zone edge lies ON a cell edge
  // (zero-area covers can't hover at fp sign ambiguity).
  /** (zone_id, x0, y0, w, h, v). */
  val arealZoneParams: Seq[(Long, Long, Long, Long, Long, Long)] =
    (0L until 12L).map { k =>
      val x0 = 3 + (k % 4) * 23
      val y0 = 2 + (k / 4) * 31
      val w = Seq(16L, 20L, 25L, 40L)((k % 4).toInt)
      val h = Seq(20L, 25L, 50L)((k / 4).toInt)
      (k, x0, y0, w, h, (k + 1) * 3)
    }

  /** The same zones as generic CCW rings with a double value — the form the
    * engine consumes (it never sees the rectangle closed form). */
  def arealZones: Seq[(Long, Array[Pt], Double)] =
    arealZoneParams.map { case (k, x0, y0, w, h, v) =>
      (k, Array(
        Pt(x0.toDouble, y0.toDouble), Pt((x0 + w).toDouble, y0.toDouble),
        Pt((x0 + w).toDouble, (y0 + h).toDouble), Pt(x0.toDouble, (y0 + h).toDouble)),
        v.toDouble)
    }

  /** DuckDB VALUES table for the areal zones. */
  val arealZonesSql: String = arealZoneParams
    .map { case (k, x0, y0, w, h, v) => s"($k, $x0, $y0, $w, $h, $v)" }
    .mkString("(VALUES ", ", ", ") AS z(zone_id, x0, y0, w, h, v)")

  /** 4×4 parcels in closed form: x on the 0.01 grid, y strictly inside the
    * id%3 row band (so the y-overlap with that row's zones is exactly 4). */
  def parcelParams(spark: SparkSession, sfDir: String): Dataset[(Long, Double, Double)] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/events.parquet")
      .select(
        col("event_id").as("id"),
        (col("event_id") * lit(7919L) % lit(9000L) / lit(100.0)).as("px0"),
        (col("event_id") % lit(3L) * lit(33.0) + lit(5.0) +
          col("event_id") * lit(104729L) % lit(2000L) / lit(100.0)).as("py0"))
      .as[(Long, Double, Double)]
  }

  val parcelSql: String =
    "SELECT event_id AS id, ((event_id*7919)%9000)/100.0 AS px0, " +
      "(event_id%3)*33.0 + 5.0 + ((event_id*104729)%2000)/100.0 AS py0 FROM events"

  // ---- spherical geotags + admin regions (the S2Grid surface) -----------
  //
  // Same derivation discipline as the planar points: pure integer
  // arithmetic on event_id then one exact division, so both engines hold
  // bit-identical lat/lon. lat spans ~[-88, 88) so all 6 cube faces get
  // points (polar faces need |lat| > ~45). The 0.005 lattice offset keeps
  // every geotag OFF the exact multiples of 45/90/180 degrees — the face
  // diagonals and trig zeros where |cos|==|sin| ties would let a last-ulp
  // libm difference flip the cube-face choice between engines (S2Grid
  // parity contract; the S2GridSpec drift-ratio guard enforces it). lon
  // spans [-179.995, 180.005): the tiny spill past +180 is fine — trig is
  // periodic and the region predicate is coordinate-space algebra. Point
  // coords and region params both have the third decimal 5, so |dlat|+
  // |dlon| lands on the 0.01 grid while r ends in .005 — the geo-join
  // refinement always has a 0.005 fp margin and its oracle is trig-free
  // algebra, parity-exact by construction.

  /** The geotag lattice as column math over any id column (and its SQL
    * mirror), so any table — events, documents — gets the same contract. */
  def latColOf(id: Column): Column =
    id * lit(7919L) % lit(17600L) / lit(100.0) - lit(88.005)
  def lonColOf(id: Column): Column =
    id * lit(104729L) % lit(36000L) / lit(100.0) - lit(179.995)
  def latSqlOf(e: String): String = s"((($e)*7919)%17600)/100.0 - 88.005"
  def lonSqlOf(e: String): String = s"((($e)*104729)%36000)/100.0 - 179.995"

  /** Geotags from events: lat = ((event_id*7919)%17600)/100 - 88.005. */
  def geoTags(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")
      .select(
        col("event_id").as("id"),
        latColOf(col("event_id")).as("lat"),
        lonColOf(col("event_id")).as("lon"))

  /** SQL fragment computing the same geotags in DuckDB. */
  val geoTagsSql: String =
    s"SELECT event_id AS id, ${latSqlOf("event_id")} AS lat, " +
      s"${lonSqlOf("event_id")} AS lon FROM events"

  /** Admin-region diamonds on the sphere: (region_id, clat, clon, r) in
    * degrees, placed to exercise every cube face plus one region that
    * straddles the face-0/face-1 edge (lon 45) — the cover enumerates
    * cells on both faces, the point probes stay single-cell. */
  val geoRegionParams: Seq[(Long, Double, Double, Double)] = Seq(
    (0L, 10.005, 20.005, 6.005),   // face 0 (+x)
    (1L, -25.005, -10.005, 8.005), // face 0, southern
    (2L, 5.005, 85.005, 7.005),    // face 1 (+y)
    (3L, 75.005, 30.005, 6.005),   // face 2 (+z, polar north)
    (4L, 15.005, 160.005, 9.005),  // face 3 (-x)
    (5L, -10.005, -95.005, 7.005), // face 4 (-y)
    (6L, -72.005, -120.005, 8.005),// face 5 (-z, polar south)
    (7L, 0.005, 45.005, 5.005),    // straddles the face-0/1 edge
    (8L, 40.005, 0.005, 10.005),   // face 0 northern, larger
    (9L, -5.005, 175.005, 4.005))  // face 3 near the antimeridian (no wrap)

  /** DuckDB VALUES table for the regions. */
  val geoRegionsSql: String = geoRegionParams
    .map { case (k, clat, clon, r) => s"($k, $clat, $clon, $r)" }
    .mkString("(VALUES ", ", ", ") AS r(region_id, clat, clon, rr)")

  /** kNN sites. */
  val siteParams: Seq[(Long, Double, Double)] =
    (0L until 20L).map { k =>
      val sx = (k * 37 % 97) + 0.515 + 0.013 * k
      val sy = (k * 59 % 89) + 0.525 + 0.017 * k
      (k, sx, sy)
    }

  def sites: Seq[Site] = siteParams.map { case (k, x, y) => Site(k, x, y) }

  val sitesSql: String = siteParams
    .map { case (k, x, y) => s"($k, $x, $y)" }
    .mkString("(VALUES ", ", ", ") AS s(site_id, sx, sy)")
}
