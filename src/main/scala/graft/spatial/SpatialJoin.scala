package graft.spatial

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.functions._
import graft.functions.{NearestSiteExpr, SiteIndex, SitesWithinExpr}
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
  *
  * The site probes (the reference's nearest-edge and radius probes) have
  * the same two modes: [[nearestSiteJoin]] and [[radiusJoin]] broadcast
  * one primitive-array [[graft.functions.SiteIndex]] and probe it with a
  * native codegen expression in the point side's own stage;
  * [[nearestSiteJoinPartitioned]] and [[radiusJoinPartitioned]] are cell
  * equi-joins for site sides beyond broadcast.
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

  /** The `id` of an `IdPoint` row as a non-null bigint column: a null id
    * throws, as the `IdPoint` encoder's own null check does. */
  private def pointId: Column = GraftColumnBridge.column(
    AssertNotNull(GraftColumnBridge.expression(col("id").cast("long")))).as("id")

  /** Nearest-site join (the reference's closest-segment probe generalized:
    * cons.py:428-490 move_address nearest building edge): `(id, site_id)`
    * of every point's exact nearest site, ties on the lower `site_id`. The
    * sites go into one broadcast [[graft.functions.SiteIndex]] and each
    * point is probed by the native NearestSiteExpr, so scan → probe →
    * aggregate stays one whole-stage codegen stage with no object encoder.
    * The probe scans rings of cells around the point's cell and stops at
    * ring k once the best distance is at most (k-1)·cellSize, or once
    * every site cell has been reached. A point with a null x or y gets a
    * null `site_id`; a null id throws, as the `IdPoint` encoder does. */
  def nearestSiteJoin(
      points: Dataset[IdPoint], sites: Seq[Site], grid: CellGrid): DataFrame = {
    require(sites.nonEmpty, "nearestSiteJoin needs at least one site")
    val index = points.sparkSession.sparkContext.broadcast(SiteIndex(sites, grid))
    points.toDF().select(pointId,
      NearestSiteExpr.nearestSite(col("x"), col("y"), index).as("site_id"))
  }

  /** Dataset-partitioned radius join — for site sides beyond broadcast.
    * The SITE side explodes into its 3×3 cell neighborhood (constant ×9
    * blow-up of the small-to-medium side); the big point side is keyed by
    * its single cell, so it shuffles exactly once with one row per point.
    * Same output as radiusJoin (set-equality tested), except that a null
    * x or y throws here, where radiusJoin gives that point no row. */
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
    * Ties break by site_id, matching nearestSiteJoin. The two differ on a
    * null x or y: this path decodes each point into an `IdPoint` and
    * throws, where nearestSiteJoin gives that point a null `site_id`. */
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

  /** Radius join (the cdau 5 m probe, cdau.py:241-243; the reference's
    * Point.boundingBox + R-tree probe, geo/point.py:21-25): all
    * `(id, site_id)` pairs within `radius`. Requires grid.cellSize >=
    * radius so the 3×3 cell neighborhood covers the disc. The native
    * SitesWithinExpr probes one broadcast [[graft.functions.SiteIndex]]
    * inside codegen and the matches are exploded; a point with a null x or
    * y gives no row, a null id throws. */
  def radiusJoin(
      points: Dataset[IdPoint], sites: Seq[Site], grid: CellGrid, radius: Double): DataFrame = {
    require(grid.cellSize >= radius, "cellSize must be >= radius for 3x3 probe")
    val index = points.sparkSession.sparkContext.broadcast(SiteIndex(sites, grid))
    points.toDF().select(pointId,
      explode(SitesWithinExpr.sitesWithin(col("x"), col("y"), lit(radius), index)).as("site_id"))
  }
}
