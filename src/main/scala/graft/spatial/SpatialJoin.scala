package graft.spatial

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.geom.{Geom, Pt}

/** Admin-zone polygon (the reference's ZoningLayer row,
  * catatom2osm/geo/layer/zoning.py:31-40, re-hosted as a typed Dataset row).
  * `geometry` is a multipolygon of OPEN rings. */
final case class Zone(zone_id: Long, label: String, level: String, geometry: Array[Array[Array[Pt]]])

/** A site for kNN joins (the "building edge / highway" side of the
  * reference's nearest-feature probes). */
final case class Site(site_id: Long, x: Double, y: Double)

/** Point with its row id (the page/document side of the spatial join). */
final case class IdPoint(id: Long, x: Double, y: Double)

/** Spatial join operators — the engine's flagship.
  *
  * Re-creates the reference's R-tree candidates + exact predicate pattern
  * (ParcelLayer.set_zones, catatom2osm/geo/layer/parcel.py:91-114): here the
  * candidate stage is a cell equi-join (CellGrid) that Catalyst plans as a
  * hash join with the small side broadcast, and the refinement is exact
  * ray-casting PIP in the native PointInPolygonExpr.
  *
  * Two physical modes, chosen by the zone side's size (the analog of
  * Catalyst's broadcast-vs-shuffle choice):
  *  - broadcast ([[pipProbe]]): zones exploded per covering cell on the
  *    driver, broadcast, probed in one codegen stage — zero shuffle of the
  *    big point side.
  *  - partitioned ([[pipJoinPartitioned]]): both sides keyed by covering
  *    cell and equi-joined — used when zones don't fit in one executor; the
  *    point side is salted against hot cells.
  */
object SpatialJoin {

  /** Driver-side cell index over zones: cell id -> zones whose bbox covers it. */
  def buildZoneIndex(zones: Seq[Zone], grid: CellGrid): Map[Long, Array[Zone]] =
    zones
      .flatMap(z => grid.coverPolygon(z.geometry).map(c => (c, z)))
      .groupBy(_._1)
      .map { case (c, zs) => (c, zs.map(_._2).sortBy(_.zone_id).toArray) }

  /** Partitioned PIP join — for zone sides too large to broadcast: both
    * sides keyed on covering cell and equi-joined, refined by the native
    * PointInPolygonExpr. The big point side gets salt = pmod(hash(id),
    * nSalt) appended to its cell key and the zone side is exploded ×nSalt,
    * so a hot cell's candidate pairs spread over nSalt reducers instead of
    * one (north rule: "salted repartitioning for hot-cell skew"); nSalt = 1
    * is the unsalted cell equi-join. Same pairs as [[pipJoinCodegen]]. */
  def pipJoinPartitioned(
      points: DataFrame, idCol: String, xCol: String, yCol: String,
      zones: Dataset[Zone], grid: CellGrid, nSalt: Int = 8): DataFrame = {
    require(nSalt >= 1, s"nSalt must be at least 1, got $nSalt")
    val spark = points.sparkSession
    import spark.implicits._
    val zoneSide = zones
      .flatMap(z => grid.coverPolygon(z.geometry).flatMap(c =>
        (0 until nSalt).map(s => ZoneCellEdges(c * nSalt + s, z.zone_id, zoneEdges(z)))))
      .toDF("cellSalt", "zone_id", "edges")
    points
      .withColumn("cellSalt",
        grid.cellCol(col(xCol), col(yCol)) * nSalt +
          pmod(hash(col(idCol)), lit(nSalt)).cast("long"))
      .join(zoneSide, "cellSalt")
      .where(graft.functions.PointInPolygonExpr.pointInPolygon(
        col(xCol), col(yCol), col("edges")))
      .select(col(idCol).as("id"), col("zone_id"))
  }

  /** One flattened edge of a zone, for the codegen PIP expression. */
  final case class Edge(ax: Double, ay: Double, bx: Double, by: Double)
  /** Zone exploded per covering cell with pre-flattened edges. */
  final case class ZoneCellEdges(cell: Long, zone_id: Long, edges: Array[Edge])

  /** Pre-flatten all ring edges of a zone (even-odd handles holes/parts). */
  def zoneEdges(z: Zone): Array[Edge] = {
    val out = scala.collection.mutable.ArrayBuffer[Edge]()
    for (poly <- z.geometry; ring <- poly) {
      val n = ring.length
      var i = 0
      while (i < n) {
        val a = ring(i); val b = ring((i + 1) % n)
        out += Edge(a.x, a.y, b.x, b.y)
        i += 1
      }
    }
    out.toArray
  }

  /** Probe body of the broadcast PIP joins: the zones exploded per covering
    * cell on the driver (`cover`) with pre-flattened edges, broadcast; the
    * point side computes its cell with the UDF-free `cell` column, probes,
    * and the native PointInPolygonExpr refines inside the join condition.
    * Keeps every point column plus `cell`, `zone_id` and `edges`; callers
    * pick their own output. */
  private[graft] def pipProbe(
      points: DataFrame, xCol: String, yCol: String, cell: Column,
      zones: Seq[Zone], cover: Zone => Seq[Long]): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val zoneSide = spark.createDataset(
      zones.flatMap(z => cover(z).map(c => ZoneCellEdges(c, z.zone_id, zoneEdges(z)))))
      .toDF("cell", "zone_id", "edges")
    points
      .withColumn("cell", cell)
      .join(broadcast(zoneSide), "cell")
      .where(graft.functions.PointInPolygonExpr.pointInPolygon(
        col(xCol), col(yCol), col("edges")))
  }

  /** Fully-codegen broadcast PIP join: the point side never leaves Catalyst.
    * Candidate prune = broadcast hash join on the UDF-free cell column;
    * refinement = the native PointInPolygonExpr (doGenCode) — the whole
    * scan→join→filter pipeline stays inside whole-stage codegen with zero
    * object Encoders on the 10^12-row side. Preferred physical mode. */
  def pipJoinCodegen(
      points: DataFrame, idCol: String, xCol: String, yCol: String,
      zones: Seq[Zone], grid: CellGrid): DataFrame =
    pipProbe(points, xCol, yCol, grid.cellCol(col(xCol), col(yCol)),
      zones, z => grid.coverPolygon(z.geometry))
      .select(col(idCol).as("id"), col("zone_id"))

  /** The flagship join keyed on HEX covering cells — the north star's
    * literal "broadcast-or-partitioned spatial hash join keyed on H3
    * res-9 … covering cells with an exact ray-casting point-in-polygon
    * refinement": zones exploded per HexGrid.coverPolygon cell
    * (driver-side, pruned — not a bbox blanket), broadcast; the corpus
    * side computes one native hex_cell id and probes; PointInPolygonExpr
    * refines inside the join condition, all in one codegen stage. Same
    * plan contract as [[pipJoinCodegen]], hex key instead of Morton. */
  def pipJoinHex(
      points: DataFrame, idCol: String, xCol: String, yCol: String,
      zones: Seq[Zone], size: Double): DataFrame =
    pipProbe(points, xCol, yCol, HexGrid.cellCol(col(xCol), col(yCol), size),
      zones, z => HexGrid.coverPolygon(z.geometry, size))
      .select(col(idCol).as("id"), col("zone_id"))

  /** Polygon→zone assignment by the ≥50%-area rule (ParcelLayer.set_zones +
    * is_inside_area, parcel.py:91-114 / geo/tools.py:11-19): a feature
    * belongs to a zone if fully contained or if ≥ half its area overlaps.
    * Candidates via the feature's bbox covering cells against the broadcast
    * zone index; exact overlap via convex clipping (zones are convex).
    * Multi-zone overlap can assign a feature to at most two zones at 50/50 —
    * ties resolved by emitting both, as the reference's two-pass does. */
  def assignZonesByArea(
      features: Dataset[(Long, Array[graft.geom.Pt])],
      zones: Seq[Zone], grid: CellGrid): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    val index = spark.sparkContext.broadcast(buildZoneIndex(zones, grid))
    features
      .mapPartitions { it =>
        val idx = index.value
        it.flatMap { case (id, ring) =>
          val cand = grid.cover(Geom.bbox(Array(Array(ring))))
            .flatMap(c => idx.getOrElse(c, Array.empty[Zone]))
            .distinct
          cand.iterator
            .filter(z => Geom.isInsideAreaConvex(ring, z.geometry.head.head))
            .map(z => (id, z.zone_id))
        }
      }
      .toDF("id", "zone_id")
  }

  /** Nearest-site join (the reference's closest-segment probe generalized:
    * cons.py:428-490 move_address nearest building edge; cdau.py:241-243
    * 5 m radius probe). Exact global nearest via ring-expanding cell search:
    * a site in a ring at Chebyshev distance k is at least (k-1)*cellSize away,
    * so the scan stops as soon as best <= (k-1)*cellSize. Each point's scan
    * is also bounded by the Chebyshev distance from its cell to the farthest
    * corner of the site cells' bounding box: by then every site has been
    * seen, wherever the point lies. */
  def nearestSiteJoin(
      points: Dataset[IdPoint], sites: Seq[Site], grid: CellGrid): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    require(sites.nonEmpty, "nearestSiteJoin needs at least one site")
    val byCell: Map[(Long, Long), Array[Site]] = sites
      .groupBy(s => (grid.cellX(s.x), grid.cellY(s.y)))
      .map { case (c, ss) => (c, ss.sortBy(_.site_id).toArray) }
    val xs = sites.map(s => grid.cellX(s.x)); val ys = sites.map(s => grid.cellY(s.y))
    val (x0, x1, y0, y1) = (xs.min, xs.max, ys.min, ys.max)
    val bc = spark.sparkContext.broadcast(byCell)
    points
      .mapPartitions { it =>
        val idx = bc.value
        it.map { p =>
          val cx = grid.cellX(p.x); val cy = grid.cellY(p.y)
          val lastRing = math.max(math.max(math.abs(cx - x0), math.abs(cx - x1)),
            math.max(math.abs(cy - y0), math.abs(cy - y1)))
          var bestD2 = Double.MaxValue
          var bestId = Long.MaxValue
          var k = 0L
          var done = false
          while (!done) {
            val bound = (k - 1).toDouble * grid.cellSize
            if (k > 0 && bound > 0 && bestD2 <= bound * bound) done = true
            else if (k > lastRing) done = true
            else {
              for ((rcx, rcy) <- grid.ringCells(cx, cy, k);
                   ss <- idx.get((rcx, rcy)); s <- ss) {
                val dx = p.x - s.x; val dy = p.y - s.y
                val d2 = dx * dx + dy * dy
                if (d2 < bestD2 || (d2 == bestD2 && s.site_id < bestId)) {
                  bestD2 = d2; bestId = s.site_id
                }
              }
              k += 1
            }
          }
          (p.id, bestId)
        }
      }
      .toDF("id", "site_id")
  }

  /** Dataset-partitioned radius join — for site sides beyond broadcast.
    * The SITE side explodes into its 3×3 cell neighborhood (constant ×9
    * blow-up of the small-to-medium side); the big point side is keyed by
    * its single cell, so it shuffles exactly once with one row per point.
    * Same output as radiusJoin (set-equality tested). */
  def radiusJoinPartitioned(
      points: Dataset[IdPoint], sites: Dataset[Site], grid: CellGrid,
      radius: Double): DataFrame = {
    require(grid.cellSize >= radius, "cellSize must be >= radius for 3x3 probe")
    val spark = points.sparkSession
    import spark.implicits._
    val siteCells = sites
      .flatMap(s => grid.neighborhood(s.x, s.y).map(c => (c, s.site_id, s.x, s.y)))
      .toDF("cell", "site_id", "sx", "sy")
    points
      .map(p => (grid.cellOf(p.x, p.y), p.id, p.x, p.y))
      .toDF("cell", "id", "px", "py")
      .join(siteCells, "cell")
      .where(
        (col("px") - col("sx")) * (col("px") - col("sx")) +
          (col("py") - col("sy")) * (col("py") - col("sy")) <= lit(radius * radius))
      .select("id", "site_id")
  }

  /** Dataset-partitioned EXACT nearest-site join — the scale path when the
    * site side doesn't fit one executor. Geometric doubling over grid
    * granularity: round r equi-joins points against sites exploded into
    * their 3×3 neighborhood at cell size g = cellSize·4^r. A candidate at
    * distance d ≤ g is provably the global nearest (any unexamined site is
    * > g away), so the point resolves; unresolved points re-join at 4g.
    * Each round is one cell equi-join with a constant ×9 site explosion —
    * no ring scans, no broadcast — and rounds are log(extent/cellSize).
    * Ties break by site_id, matching nearestSiteJoin. */
  def nearestSiteJoinPartitioned(
      points: Dataset[IdPoint], sites: Dataset[Site], baseCell: Double,
      maxRounds: Int = 24): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    var unresolved = points
    val resolved = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var g = baseCell
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      val grid = CellGrid(g)
      val siteCells = sites
        .flatMap(s => grid.neighborhood(s.x, s.y).map(c => (c, s.site_id, s.x, s.y)))
        .toDF("cell", "site_id", "sx", "sy")
      val best = unresolved
        .map(p => (grid.cellOf(p.x, p.y), p.id, p.x, p.y))
        .toDF("cell", "id", "px", "py")
        .join(siteCells, "cell")
        .withColumn("d2",
          (col("px") - col("sx")) * (col("px") - col("sx")) +
            (col("py") - col("sy")) * (col("py") - col("sy")))
        .groupBy("id")
        .agg(min(struct(col("d2"), col("site_id"))).as("m"))
        .select(col("id"), col("m.site_id").as("site_id"), col("m.d2").as("d2"))
        .localCheckpoint() // eager: truncate the per-round lineage
      val won = best.filter(sqrt(col("d2")) <= lit(g)).select("id", "site_id")
      resolved += won
      unresolved = unresolved
        .join(won.select("id"), unresolved("id") === won("id"), "left_anti")
        .as[IdPoint]
        .localCheckpoint()
      done = unresolved.isEmpty
      g *= 4
      round += 1
    }
    require(done, s"nearestSiteJoinPartitioned did not converge in $maxRounds rounds")
    resolved.reduce(_ union _)
  }

  /** Radius join: all (point, site) pairs within `radius`. Requires
    * grid.cellSize >= radius so the 3×3 neighborhood covers the disc
    * (the reference's Point.boundingBox + R-tree probe, geo/point.py:21-25). */
  def radiusJoin(
      points: Dataset[IdPoint], sites: Seq[Site], grid: CellGrid, radius: Double): DataFrame = {
    require(grid.cellSize >= radius, "cellSize must be >= radius for 3x3 probe")
    val spark = points.sparkSession
    import spark.implicits._
    val byCell: Map[Long, Array[Site]] = sites
      .groupBy(s => grid.cellOf(s.x, s.y))
      .map { case (c, ss) => (c, ss.sortBy(_.site_id).toArray) }
    val bc = spark.sparkContext.broadcast(byCell)
    val r2 = radius * radius
    points
      .mapPartitions { it =>
        val idx = bc.value
        it.flatMap { p =>
          grid.neighborhood(p.x, p.y).iterator
            .flatMap(c => idx.getOrElse(c, Array.empty[Site]).iterator)
            .filter { s =>
              val dx = p.x - s.x; val dy = p.y - s.y
              dx * dx + dy * dy <= r2
            }
            .map(s => (p.id, s.site_id))
        }
      }
      .toDF("id", "site_id")
  }
}
