package graft.ops

import org.apache.spark.sql.Dataset
import graft.geom.{Geom, Pt}
import graft.geom.Geom.MultiPolygon
import graft.spatial.CellGrid

/** Building conflation against current OSM data (reference
  * ConsLayer.conflate, cons.py:524-578): every closed OSM building/pool way
  * probes the cadastre layer's spatial index; overlap or containment in
  * either direction is a conflict. delete=false marks conflicted OSM
  * elements; delete=true drops the non-conflicting ones (they need no
  * import review). Candidate prune = bbox covering-cell join against a
  * broadcast index — the same cell shuffle as the flagship PIP join.
  */
object Conflate {
  final case class OsmPoly(id: Long, tags: Map[String, String], geometry: MultiPolygon)

  def isCandidate(p: OsmPoly): Boolean =
    p.tags.get("building").isDefined ||
      p.tags.get("leisure").contains("swimming_pool")

  /** Conflict = interiors intersect (contains either way ∨ overlaps). */
  def conflicts(a: MultiPolygon, b: MultiPolygon): Boolean =
    BuildingParts.isInside(a, b)

  /** Mark conflicted OSM polygons (delete=false flavor). */
  def markConflicts(
      osm: Dataset[OsmPoly], cons: Seq[MultiPolygon], grid: CellGrid): Dataset[OsmPoly] = {
    val spark = osm.sparkSession
    import spark.implicits._
    val index: Map[Long, Array[Int]] = cons.zipWithIndex
      .flatMap { case (g, i) => grid.cover(Geom.bbox(g)).map(c => (c, i)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toArray).toMap
    val bIdx = spark.sparkContext.broadcast(index)
    val bGeoms = spark.sparkContext.broadcast(cons.toArray)
    osm.map { p =>
      if (!isCandidate(p)) p
      else {
        val cand = grid.cover(Geom.bbox(p.geometry))
          .flatMap(c => bIdx.value.getOrElse(c, Array.empty[Int])).distinct
        val hit = cand.exists(i => conflicts(p.geometry, bGeoms.value(i)))
        if (hit) p.copy(tags = p.tags + ("conflict" -> "yes")) else p
      }
    }
  }

  // ------------------------------------------------------------------
  // Full-document conflate: ways AND multipolygon relations, the complete
  // semantics of cons.py:524-578 incl. the delete=True flavor and
  // Relation.outer_geometry's open-way chaining (osm.py:505-530).
  // ------------------------------------------------------------------

  final case class OsmWayG(id: Long, tags: Map[String, String], pts: Array[Pt])
  final case class OsmRelG(id: Long, tags: Map[String, String], memberWays: Seq[Long])

  private def isClosed(pts: Array[Pt]): Boolean =
    pts.length > 2 && pts.head == pts.last

  /** Relation.outer_geometry (osm.py:505-530): repeatedly append, onto each
    * still-open chain's END, any other chain sharing that endpoint (reversed
    * when its tail matches). Faithful to the reference's list walk. */
  def outerGeometry(ways: Seq[Array[Pt]]): Seq[Array[Pt]] = {
    val outer = scala.collection.mutable.ArrayBuffer(ways: _*)
    var i = 0
    while (i < outer.length) {
      if (outer(i).length > 1 && !isClosed(outer(i))) {
        var matched = true
        while (matched) {
          matched = false
          var j = i + 1
          while (j < outer.length && !matched) {
            val w1 = outer(i); val w2 = outer(j)
            if (w2.length > 1 && !isClosed(w2)) {
              if (w2.head == w1.last) {
                outer(i) = w1 ++ w2.tail; outer.remove(j); matched = true
              } else if (w2.last == w1.last) {
                outer(i) = w1 ++ w2.reverse.tail; outer.remove(j); matched = true
              }
            }
            if (!matched) j += 1
          }
        }
      }
      i += 1
    }
    outer.toSeq
  }

  /** ConsLayer.conflate over a full parsed document (cons.py:524-578),
    * Dataset-native and the ONLY orchestration flavor: ways and relations
    * stay in Dataset land end-to-end — relation outer rings are assembled
    * by a member-explode join + per-relation cogroup, conflict marking is
    * the distributed cell-join probe, and the delete flavor is expressed as
    * anti-joins (dropped candidates, then member ways orphaned by dropped
    * relations). The cadastre side broadcasts, exactly like markConflicts.
    * Output equals conflateDoc (golden-tested both flavors). */
  def conflateDocD(
      spark: org.apache.spark.sql.SparkSession,
      ways: Dataset[OsmWayG], rels: Dataset[OsmRelG],
      cons: Seq[MultiPolygon], grid: CellGrid,
      delete: Boolean = true): (Dataset[OsmWayG], Dataset[OsmRelG]) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def cand(tags: Map[String, String]) =
      tags.contains("building") || tags.get("leisure").contains("swimming_pool")
    def ringsValid(mp: MultiPolygon): Boolean =
      mp.forall(_.forall(r => !graft.clean.DeleteInvalid.selfIntersects(r)))
    val wayCands = ways
      .filter(w => cand(w.tags) && isClosed(w.pts))
      .map(w => OsmPoly(w.id, w.tags, Array(Array(w.pts.dropRight(1)))))
      .filter(p => ringsValid(p.geometry))
    // relation outer rings: member explode -> equi-join way geometry ->
    // per-relation chain (outerGeometry is per-relation bounded work).
    // Relations and ways mark in two separate passes, so their id spaces
    // never collide (the retired Seq flavor needed a tag bit here).
    val members = rels.filter(r => cand(r.tags))
      .flatMap(r => r.memberWays.zipWithIndex.map { case (w, i) => (r.id, i, w, r.tags) })
      .toDF("rel_id", "pos", "way_id", "tags")
    val wayGeom = ways.map(w => (w.id, w.pts)).toDF("way_id", "pts")
    val relCands = members.join(wayGeom, "way_id")
      .select(col("rel_id"), col("pos"), col("pts"), col("tags"))
      .as[(Long, Int, Array[Pt], Map[String, String])]
      .groupByKey(_._1)
      .flatMapGroups { (relId, it) =>
        val rows = it.toSeq.sortBy(_._2)
        val rings = outerGeometry(rows.map(_._3))
        if (rings.isEmpty || !rings.forall(isClosed)) Iterator.empty
        else Iterator(OsmPoly(relId, rows.head._4,
          rings.map(rr => Array(rr.dropRight(1))).toArray))
      }
      .filter(p => ringsValid(p.geometry))
    def markOf(cands: Dataset[OsmPoly]) =
      markConflicts(cands, cons, grid)
        .map(p => (p.id, p.tags.contains("conflict")))
        .toDF("mid", "hit")
        .localCheckpoint()
    val markedW = markOf(wayCands)
    val markedR = markOf(relCands)
    if (!delete) {
      val outW = ways.toDF().as("w")
        .join(markedW.as("m"), col("w.id") === col("m.mid"), "left")
        .select(struct(col("w.id"), col("w.tags"), col("w.pts")).as("_1"),
          col("m.hit").as("_2"))
        .as[(OsmWayG, Option[Boolean])]
        .map { case (w, hit) =>
          if (hit.contains(true)) w.copy(tags = w.tags + ("conflict" -> "yes")) else w
        }
      val outR = rels.toDF().as("r")
        .join(markedR.as("m"), col("r.id") === col("m.mid"), "left")
        .select(struct(col("r.id"), col("r.tags"), col("r.memberWays")).as("_1"),
          col("m.hit").as("_2"))
        .as[(OsmRelG, Option[Boolean])]
        .map { case (r, hit) =>
          if (hit.contains(true)) r.copy(tags = r.tags + ("conflict" -> "yes")) else r
        }
      (outW, outR)
    } else {
      val dropWays = markedW.filter(!col("hit")).select(col("mid").as("id"))
      val dropRels = markedR.filter(!col("hit")).select(col("mid").as("id"))
      val keptRels = rels.toDF().join(dropRels, Seq("id"), "left_anti").as[OsmRelG]
      val stillRef = keptRels.flatMap(_.memberWays).toDF("id").distinct()
      val orphaned = rels.toDF().join(dropRels, Seq("id"), "left_semi").as[OsmRelG]
        .flatMap(_.memberWays).toDF("id").distinct()
        .join(stillRef, Seq("id"), "left_anti")
      val outW = ways.toDF()
        .join(dropWays, Seq("id"), "left_anti")
        .join(orphaned, Seq("id"), "left_anti")
        .as[OsmWayG]
      (outW, keptRels)
    }
  }

}
