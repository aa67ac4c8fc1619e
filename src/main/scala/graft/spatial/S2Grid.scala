package graft.spatial

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spherical quad-cell index — the S2-level-13 / H3-res-9 shape the north
  * star names, built from the public cube-face construction: project the
  * geotag direction onto the face of a cube (gnomonic projection, the same
  * first stage as S2; we keep the projection linear where S2 applies a
  * quadratic area-equalizer — documented difference, hierarchy and join
  * semantics are identical), then quad-tree the face with a Z-order curve.
  *
  * Cell id layout: `face * 4^level + morton(i, j)` — face in the top 3
  * bits, so the parent at any coarser level is ONE integer shift
  * (`cell >> 2*(level-parent)`), exactly like the planar [[Morton]] grid:
  * rollups/compaction need no re-encoding join.
  *
  * Everything is pure column math (trig + arithmetic + CASE), no UDF —
  * the encode stays inside whole-stage codegen on the 10^12-row page side,
  * and [[cellSqlCtes]] replays it in ANSI SQL for the DuckDB oracle.
  *
  * ORACLE PARITY CONTRACT: +,-,*,/ are IEEE-754 correctly rounded in both
  * engines, so every arithmetic step is bit-identical; cos/sin/radians may
  * differ in the last ulp between libm and the JVM. A last-ulp drift flips
  * a cell id only when `s*2^level` sits within ~1e-12 of an integer —
  * S2GridSpec asserts the synthetic geotag corpus keeps a 1e-6 margin from
  * every floor/clamp/face boundary, so the oracle gate is deterministic.
  * Joins built on this grid ([[coverDiamond]] + exact refinement) never
  * depend on trig parity at all: the cover is conservative and the final
  * predicate is exact lat/lon algebra.
  *
  * Reference analog: the R-tree candidate probe (catatom2osm/geo/layer/
  * base.py:331-336) generalized to the sphere per the north star's
  * "H3 res-9 / S2 level-13 covering cells".
  */
object S2Grid {

  /** Degrees->radians as ONE multiplication by this shared literal in the
    * engine, the Scala mirror, and the SQL mirror. Java's Math.toRadians
    * (x/180*PI) and DuckDB's radians (x*(PI/180)) can differ by an ulp of
    * the ARGUMENT — which near cos's zeros (lon = +-90) dwarfs the result
    * and can flip the (c + 1.0) rounding at the cell boundary. With
    * bit-identical arguments, libm's <=1-ulp-of-RESULT contract keeps the
    * drift RELATIVE, so the scaled axis drift is <= ~2e-11 everywhere —
    * 50x inside the 1e-9 margin S2GridSpec asserts. */
  val DegToRad: Double = math.Pi / 180.0

  /** (face, u, v) of a lat/lon direction, as columns. Face axes in cyclic
    * order — major X -> (y,z), major Y -> (z,x), major Z -> (x,y); dividing
    * by the SIGNED major component keeps |u|,|v| <= 1 on negative faces
    * too (faces 3..5). Ties on the face comparison resolve X over Y over Z
    * in BOTH mirrors and the SQL below — same >= chain everywhere. */
  private def faceUv(lat: Column, lon: Column): (Column, Column, Column) = {
    val latR = lat * lit(DegToRad); val lonR = lon * lit(DegToRad)
    val x = cos(latR) * cos(lonR)
    val y = cos(latR) * sin(lonR)
    val z = sin(latR)
    val (ax, ay, az) = (abs(x), abs(y), abs(z))
    val face = when(ax >= ay && ax >= az, when(x >= 0, 0L).otherwise(3L))
      .when(ay >= az, when(y >= 0, 1L).otherwise(4L))
      .otherwise(when(z >= 0, 2L).otherwise(5L))
    val u = when(ax >= ay && ax >= az, y / x)
      .when(ay >= az, z / y)
      .otherwise(x / z)
    val v = when(ax >= ay && ax >= az, z / x)
      .when(ay >= az, x / y)
      .otherwise(y / z)
    (face, u, v)
  }

  /** Axis index of a face coordinate at `level`: floor(((u+1)/2) * 2^level),
    * clamped to the face (u = +1 is the shared edge with the next face). */
  private def axisCol(u: Column, level: Int): Column = {
    val w = (1L << level).toDouble
    least(greatest(floor((u + lit(1.0)) / lit(2.0) * lit(w)).cast("long"),
      lit(0L)), lit((1L << level) - 1L))
  }

  /** Spherical cell id of a (lat, lon) column pair at `level`. */
  def cellCol(lat: Column, lon: Column, level: Int): Column = {
    val (face, u, v) = faceUv(lat, lon)
    face * lit(1L << (2 * level)) + Morton.mortonCol(axisCol(u, level), axisCol(v, level))
  }

  /** Parent cell at a coarser level — one shift, no re-encoding. */
  def parentCol(cell: Column, level: Int, parentLevel: Int): Column =
    shiftright(cell, 2 * (level - parentLevel))

  // ---- Scala mirror (MUST stay arithmetically identical to the columns) --

  def faceUvOf(lat: Double, lon: Double): (Long, Double, Double) = {
    val latR = lat * DegToRad; val lonR = lon * DegToRad
    val x = math.cos(latR) * math.cos(lonR)
    val y = math.cos(latR) * math.sin(lonR)
    val z = math.sin(latR)
    val (ax, ay, az) = (math.abs(x), math.abs(y), math.abs(z))
    if (ax >= ay && ax >= az) (if (x >= 0) 0L else 3L, y / x, z / x)
    else if (ay >= az) (if (y >= 0) 1L else 4L, z / y, x / y)
    else (if (z >= 0) 2L else 5L, x / z, y / z)
  }

  def axisOf(u: Double, level: Int): Long = {
    val w = (1L << level).toDouble
    math.min(math.max(math.floor((u + 1.0) / 2.0 * w).toLong, 0L), (1L << level) - 1L)
  }

  def cellOf(lat: Double, lon: Double, level: Int): Long = {
    val (face, u, v) = faceUvOf(lat, lon)
    face * (1L << (2 * level)) + Morton.morton(axisOf(u, level), axisOf(v, level))
  }

  // ---- ANSI SQL mirror for the DuckDB oracle -----------------------------

  /** CTE chain computing `cell` (the level-`level` id) for a source CTE
    * named `src` exposing columns (id, lat, lon). Returns the chain body —
    * caller wraps as `WITH src AS (...), <this>` and selects from `s2cell`.
    * Identical operation order to [[cellCol]], parenthesized explicitly. */
  def cellSqlCtes(level: Int): String = {
    val w = (1L << level).toDouble
    val cellsPerFace = 1L << (2 * level)
    val iExpr = s"least(greatest(CAST(floor(((u + 1.0) / 2.0) * $w) AS BIGINT), 0), ${(1L << level) - 1L})"
    val jExpr = s"least(greatest(CAST(floor(((v + 1.0) / 2.0) * $w) AS BIGINT), 0), ${(1L << level) - 1L})"
    val k = DegToRad.toString // shortest round-trip: both engines parse the same binary64
    s"""s2rad AS (SELECT id, lat * $k AS latr, lon * $k AS lonr FROM src),
       |s2xyz AS (
       |  SELECT id, cos(latr)*cos(lonr) AS x,
       |         cos(latr)*sin(lonr) AS y,
       |         sin(latr) AS z FROM s2rad),
       |s2fuv AS (
       |  SELECT id,
       |    CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z) THEN CASE WHEN x >= 0 THEN 0 ELSE 3 END
       |         WHEN abs(y) >= abs(z) THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END
       |         ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END END AS face,
       |    CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z) THEN y / x
       |         WHEN abs(y) >= abs(z) THEN z / y ELSE x / z END AS u,
       |    CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z) THEN z / x
       |         WHEN abs(y) >= abs(z) THEN x / y ELSE y / z END AS v
       |  FROM s2xyz),
       |s2ij AS (SELECT id, face, $iExpr AS i, $jExpr AS j FROM s2fuv),
       |s2cell AS (SELECT id, CAST(face AS BIGINT) * $cellsPerFace + ${Morton.mortonSql("i", "j")} AS cell FROM s2ij)""".stripMargin
  }

  // ---- conservative region cover (the polygon/dim side of the join) ------

  /** All level-`level` cells a lat/lon diamond `|lat-clat|+|lon-clon| < r`
    * can intersect. Conservative by lattice sampling: the predicate radius
    * is inflated by one minimum cell footprint and the lattice step is a
    * quarter of it, so every intersecting cell contains a sample (min
    * footprint of a cell in lat/lon is >= (45/2^level)·cos-squared of the
    * gnomonic angle >= half the face-center size; polar-face cells only
    * get WIDER in lon). False positives are fine — the join refines with
    * the exact predicate; false negatives are excluded by the inflation
    * and re-checked empirically in S2GridSpec against a brute-force join.
    * Cross-face regions work naturally: each sample routes through the same
    * [[cellOf]] as the points. Driver-side over the small dim table only. */
  def coverDiamond(clat: Double, clon: Double, r: Double, level: Int): Seq[Long] = {
    val cellAng = 45.0 / (1L << level).toDouble
    val step = cellAng / 4.0
    val rInf = r + cellAng
    val cells = scala.collection.mutable.HashSet[Long]()
    var dlat = -rInf
    while (dlat <= rInf) {
      val lonSpan = rInf - math.abs(dlat)
      var dlon = -lonSpan
      while (dlon <= lonSpan) {
        val lat = math.min(89.999, math.max(-89.999, clat + dlat))
        cells += cellOf(lat, clon + dlon, level)
        dlon += step
      }
      dlat += step
    }
    cells.toSeq.sorted
  }

  /** The broadcast dim side of the spherical region join: SynthGeo's admin
    * regions exploded per covering cell at `level` (driver-side over the
    * 10-row region table). */
  def regionSide(s: SparkSession, level: Int): DataFrame =
    s.createDataFrame(
      SynthGeo.geoRegionParams.flatMap { case (k, clat, clon, r) =>
        coverDiamond(clat, clon, r, level).map(c => (c, k, clat, clon, r))
      }).toDF("cell", "region_id", "clat", "clon", "rr")
}
