package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.geom.{Geom, Pt}
import graft.text.TextFns

/** Street-name conflation (reference AddressLayer.get_names,
  * geo/layer/address.py:95-142): group address points by street name
  * (the grouped rewrite the reference benchmarked at 127×), pick the
  * candidate pool by type (place types and the PZ plaza double-probe with
  * its 'square' prefix marker), fuzzy-match with token-sort ratio.
  */
object AddressNames {
  /** place-type first words (config.py:419-465 es_ES) — lowercase. */
  val PlaceTypes: Set[String] = Set(
    "agregado", "aldea", "área", "barrio", "barranco", "cañada", "colegio",
    "cigarral", "chalet", "concejo", "campa", "campo", "caserío", "conjunto",
    "diputación", "diseminados", "edificios", "extramuros", "entrada",
    "ensanche", "extrarradio", "finca", "grupo", "huerta", "huerto",
    "jardines", "lugar", "mercado", "muelle", "municipio", "masías", "monte",
    "manzana", "poblado", "partida", "polígono", "páramo", "parroquia",
    "solar", "squareplaza", "terrenos", "urbanización", "bulevar", "sector")

  final case class Named(name: String, bbox: Geom.BBox)

  /** Build the NamedRow dataset for [[getNamesD]] from highway + place
    * pools (source order becomes the tie-break idx, like the reference's
    * layer order). */
  def namedRows(spark: SparkSession, highways: Seq[Named],
      places: Seq[Named]): org.apache.spark.sql.Dataset[NamedRow] = {
    import spark.implicits._
    spark.createDataset(
      highways.zipWithIndex.map { case (n, i) =>
        NamedRow("highway", i.toLong, n.name,
          n.bbox.xmin, n.bbox.ymin, n.bbox.xmax, n.bbox.ymax) } ++
      places.zipWithIndex.map { case (n, i) =>
        NamedRow("place", i.toLong, n.name,
          n.bbox.xmin, n.bbox.ymin, n.bbox.xmax, n.bbox.ymax) })
  }

  /** A named highway/place feature row for the Dataset form: `side` is
    * "highway" or "place"; `idx` preserves the source layer order so the
    * fuzzy-match argmax tie-break equals the Seq kernel's. */
  final case class NamedRow(side: String, idx: Long, name: String,
      x0: Double, y0: Double, x1: Double, y1: Double)

  /** get_names, Dataset-native (address.py:95-142, the reference's own 127×
    * grouped rewrite in Spark shape): one shuffle groups addresses by street
    * name into a bbox; a coarse-cell equi-join against the named layers
    * generates candidates (two intersecting rectangles always share a
    * covering cell — lossless); the exact bbox test and the
    * token-sort-ratio argmax run per street group. Streets with an empty
    * candidate pool still resolve (to the parsed CAT name), exactly like
    * the Seq kernel. */
  def getNamesD(
      addresses: org.apache.spark.sql.Dataset[(String, Double, Double)],
      named: org.apache.spark.sql.Dataset[NamedRow],
      bboxBuffer: Double = 0.002 * 100000,
      cellSize: Double = 512.0): org.apache.spark.sql.DataFrame = {
    val spark = addresses.sparkSession
    import spark.implicits._
    val grid = graft.spatial.CellGrid(cellSize, origin = -1e7, rowWidth = 1L << 31)
    val grouped = addresses.toDF("tn", "x", "y")
      .filter(col("tn").isNotNull && col("tn") =!= "")
      .groupBy("tn")
      .agg(min("x").as("x0"), min("y").as("y0"),
        max("x").as("x1"), max("y").as("y1"))
    val streetCells = grouped
      .as[(String, Double, Double, Double, Double)]
      .flatMap { case (tn, x0, y0, x1, y1) =>
        val g = Geom.BBox(x0, y0, x1, y1).grow(bboxBuffer)
        grid.cover(g).map(c => (c, tn, g.xmin, g.ymin, g.xmax, g.ymax))
      }
      .toDF("cell", "tn", "gx0", "gy0", "gx1", "gy1")
    val namedCells = named
      .flatMap(n => grid.cover(Geom.BBox(n.x0, n.y0, n.x1, n.y1))
        .map(c => (c, n.side, n.idx, n.name, n.x0, n.y0, n.x1, n.y1)))
      .toDF("cell", "side", "idx", "name", "nx0", "ny0", "nx1", "ny1")
    val cand = streetCells.join(namedCells, "cell")
      .filter(col("gx0") <= col("nx1") && col("nx0") <= col("gx1") &&
        col("gy0") <= col("ny1") && col("ny0") <= col("gy1"))
      .select("tn", "side", "idx", "name").distinct()
    val pools = cand
      .groupBy("tn")
      .agg(collect_list(struct(col("side"), col("idx"), col("name"))).as("pool"))
    grouped.select("tn")
      .join(pools, Seq("tn"), "left")
      .as[(String, Option[Seq[(String, Long, String)]])]
      .map { case (tn, poolOpt) =>
        val pool = poolOpt.getOrElse(Seq.empty).sortBy(t => (t._1, t._2))
        val hw = pool.collect { case ("highway", _, n) => n }
        val pl = pool.collect { case ("place", _, n) => n }
        val hgwType = TextFns.parseStreetName(tn).split(" ")(0).toLowerCase
        val r =
          if (PlaceTypes.contains(hgwType)) TextFns.matchName(tn, pl)
          else if (tn.split(" ")(0) == "PZ") {
            val m = TextFns.matchName(tn, pl)
            if (m._2 == "CAT") TextFns.matchName(tn, hw)
            else ("square" + m._1, m._2)
          } else TextFns.matchName(tn, hw)
        (tn, r._1, r._2)
      }
      .toDF("tn", "matched", "source")
  }

  /** AddressLayer.conflate (address.py:69-93): drop addresses whose
    * street+number key exists in OSM, and 'S-N' (no-number) addresses. */
  def conflateAddresses(
      addresses: Seq[(String, String, String)], // (localId, TN_text, designator)
      current: Set[String],
      noNumber: String = "S-N"): Seq[(String, String, String)] =
    addresses
      .filterNot { case (_, tn, des) => current.contains(tn + des) }
      .filterNot(_._3 == noNumber)

  /** HighwayLayer.read_from_osm (geo/layer/highway.py:28-43): a named
    * relation writes its name onto every member way (overwriting), then
    * every named way becomes one polyline feature. */
  def highwaysFromOsm(doc: graft.sources.OsmOut.OsmDoc): Seq[(String, Seq[Pt])] = {
    val nodeById = doc.nodes.map(n => n.id -> Pt(n.lon, n.lat)).toMap
    val inherited = scala.collection.mutable.Map[Long, String]()
    for (r <- doc.rels; name <- r.tags.get("name");
         m <- r.members if m._1 == "way")
      inherited(m._2) = name // later relations overwrite, like the reference
    doc.ways.flatMap { w =>
      inherited.get(w.id).orElse(w.tags.get("name"))
        .map(n => (n, w.ndRefs.flatMap(nodeById.get)))
    }
  }

  /** PlaceLayer.read_from_osm (geo/layer/place.py:29-56): every element
    * tagged place+name becomes a POINT — the node itself, the
    * length-weighted centroid of a way polyline (QGIS line centroid), or
    * the vertex mean of a relation's non-inner way members. */
  def placesFromOsm(doc: graft.sources.OsmOut.OsmDoc): Seq[(String, Pt)] = {
    val nodeById = doc.nodes.map(n => n.id -> Pt(n.lon, n.lat)).toMap
    def lineCentroid(pts: Seq[Pt]): Option[Pt] = {
      if (pts.length < 2) return pts.headOption
      var sx = 0.0; var sy = 0.0; var sl = 0.0
      for (Seq(a, b) <- pts.sliding(2)) {
        val len = math.hypot(b.x - a.x, b.y - a.y)
        sx += len * (a.x + b.x) / 2; sy += len * (a.y + b.y) / 2; sl += len
      }
      if (sl > 0) Some(Pt(sx / sl, sy / sl)) else pts.headOption
    }
    def placed(tags: Map[String, String]) =
      tags.contains("place") && tags.contains("name")
    val fromNodes = doc.nodes.collect {
      case n if placed(n.tags) => (n.tags("name"), Pt(n.lon, n.lat))
    }
    val fromWays = doc.ways.collect {
      case w if placed(w.tags) =>
        lineCentroid(w.ndRefs.flatMap(nodeById.get)).map(p => (w.tags("name"), p))
    }.flatten
    val wayById = doc.ways.map(w => w.id -> w).toMap
    val fromRels = doc.rels.collect {
      case r if placed(r.tags) =>
        val pts = r.members
          .collect { case ("way", wid, role) if role != "inner" => wayById.get(wid) }
          .flatten.flatMap(_.ndRefs.flatMap(nodeById.get))
        if (pts.isEmpty) None
        else Some((r.tags("name"),
          Pt(pts.map(_.x).sum / pts.length, pts.map(_.y).sum / pts.length)))
    }.flatten
    fromNodes ++ fromWays ++ fromRels
  }

  /** Load a JOSM GeoJSON FeatureCollection's named features with bboxes
    * (Point or LineString), via Spark's JSON reader. */
  def loadNamed(spark: SparkSession, path: String): Seq[Named] = {
    val df = spark.read.option("multiLine", true).json(path)
    val rows = df.select(explode(col("features")).as("f"))
      .select(col("f.properties.name").as("name"),
        to_json(col("f.geometry.coordinates")).as("coords"))
      .collect()
    rows.toSeq.flatMap { r =>
      val name = r.getAs[String]("name")
      if (name == null) None
      else {
        val nums = "-?[0-9.]+".r.findAllIn(r.getAs[String]("coords"))
          .map(_.toDouble).toSeq
        val pts = nums.grouped(2).collect { case Seq(x, y) => Pt(x, y) }.toSeq
        if (pts.isEmpty) None
        else Some(Named(name,
          Geom.BBox(pts.map(_.x).min, pts.map(_.y).min, pts.map(_.x).max, pts.map(_.y).max)))
      }
    }
  }
}
