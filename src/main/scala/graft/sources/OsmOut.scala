package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** OSM output element model (reference osm.py:9-57,254,318 + osmxml.py):
  * nodes/ways with tag maps and deterministic NEGATIVE id assignment —
  * new OSM elements carry negative ids before upload; the reference assigns
  * them by insertion order, which is not reproducible under parallelism, so
  * here ids come from row_number over a total key order (SURVEY §1.4):
  * identical output at any partitioning.
  */
object OsmOut {

  /** Deterministic global rank (1-based) by key WITHOUT collapsing to one
    * partition: range-repartition + sort-within + zipWithIndex (two-phase
    * per-partition offsets). The rank is a pure function of the key's total
    * order — identical at any parallelism — unlike a global Window.orderBy,
    * which would funnel 10^12 rows through a single partition. */
  def withGlobalRank(df: DataFrame, keyCol: String, rankCol: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(col(keyCol)).sortWithinPartitions(keyCol)
    val schema = sorted.schema
    val withIdx = sorted.rdd.zipWithIndex.map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    spark.createDataFrame(withIdx,
      schema.add(rankCol, org.apache.spark.sql.types.LongType, nullable = false))
  }

  /** Address points -> OSM nodes: osm_id = -rank over sorted key. */
  def addressNodes(addresses: DataFrame, keyCol: String, xCol: String, yCol: String,
      tagCols: Map[String, String]): DataFrame = {
    val tags = map(
      tagCols.toSeq.sortBy(_._1).flatMap { case (k, c) =>
        Seq(lit(k), col(c).cast("string"))
      }: _*)
    withGlobalRank(addresses, keyCol, "rank")
      .withColumn("osm_id", -col("rank"))
      .withColumn("tags", tags)
      .select(col(keyCol).as("key"), col("osm_id"), col(xCol).as("x"),
        col(yCol).as("y"), col("tags"))
  }

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("'", "&apos;")

  private def unescape(s: String): String =
    s.replace("&apos;", "'").replace("&gt;", ">").replace("&lt;", "<").replace("&amp;", "&")

  /** Merge duplicated elements before write (Osm.merge_duplicated,
    * osm.py:87-104: group by canonical geometry, merge tags, keep one id).
    * Canonical key = exact coordinates; tag conflict -> the tag of the
    * smallest id wins (deterministic; map_concat keeps the first key). */
  def mergeDuplicated(nodes: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    nodes
      .select(col("osm_id"), col("x"), col("y"), col("tags"))
      .as[(Long, Double, Double, Map[String, String])]
      .groupByKey(t => (t._2, t._3))
      .mapGroups { (key: (Double, Double), it: Iterator[(Long, Double, Double, Map[String, String])]) =>
        val rows = it.toSeq.sortBy(-_._1) // ids negative: -1 > -2 -> min |id| first
        val tags = rows.foldLeft(Map.empty[String, String]) { (acc, r) =>
          r._4 ++ acc // earlier (kept) rows override later ones
        }
        (rows.head._1, key._1, key._2, tags)
      }
      .toDF("osm_id", "x", "y", "tags")
  }

  /** Resolve way geometry from node refs by join (osmxml.deserialize's
    * ref resolution, osmxml.py:44-126, as two relational joins instead of a
    * streaming parser): ways(way_id, nd_refs array) × nodes -> ordered
    * coordinate arrays; dangling refs are dropped with a count, mirroring
    * the reference's silent-drop behavior. */
  def resolveWays(ways: DataFrame, nodes: DataFrame): DataFrame = {
    val spark = ways.sparkSession
    import spark.implicits._
    val exploded = ways
      .select(col("way_id"), posexplode(col("nd_refs")).as(Seq("pos", "ref")))
    exploded
      .join(nodes.select(col("osm_id").as("ref"), col("x"), col("y")), Seq("ref"))
      .groupBy("way_id")
      .agg(
        array_sort(collect_list(struct(col("pos"), col("x"), col("y")))).as("pts"),
        count(lit(1)).as("n_resolved"))
      .join(ways.select(col("way_id"), size(col("nd_refs")).as("n_refs")), Seq("way_id"))
      .select(col("way_id"),
        transform(col("pts"), p => struct(p.getField("x").as("x"), p.getField("y").as("y"))).as("geometry"),
        (col("n_refs") - col("n_resolved")).as("n_dangling"))
  }

  /** `attrs` carries the JOSM/OSM element attributes beyond the modeled
    * ones (action, visible, version, timestamp, changeset, uid, user —
    * osm.py:174-183 _attr_list) so documents read from OSM round-trip
    * through serialize without losing upload metadata. Empty for elements
    * this engine creates (the reference also serializes defaults only via
    * the Element constructor; our task-doc goldens stay byte-identical). */
  final case class RawNode(id: Long, lon: Double, lat: Double, tags: Map[String, String],
      attrs: Map[String, String] = Map.empty)
  final case class RawWay(id: Long, ndRefs: Seq[Long], tags: Map[String, String],
      attrs: Map[String, String] = Map.empty)
  final case class RawRel(id: Long, members: Seq[(String, Long, String)], tags: Map[String, String],
      attrs: Map[String, String] = Map.empty)

  /** Serialization order of element attributes (osm.py:174-183). */
  private val AttrOrder = Seq(
    "action", "visible", "version", "timestamp", "changeset", "uid", "user")

  private def attrString(attrs: Map[String, String]): String =
    if (attrs.isEmpty) ""
    else {
      val known = AttrOrder.filter(attrs.contains).map(k => (k, attrs(k)))
      val rest = (attrs -- AttrOrder -- Seq("id", "lon", "lat")).toSeq.sortBy(_._1)
      (known ++ rest).map { case (k, v) => s" $k='${escape(v)}'" }.mkString
    }

  /** General OSM XML parser (osmxml.deserialize surface, osmxml.py:44-126):
    * tolerant of arbitrary attribute order / JOSM action attributes; nodes,
    * ways with nd refs, relations with typed members. */
  def parseOsm(xml: String): (Seq[RawNode], Seq[RawWay], Seq[RawRel]) = {
    def attr(elem: String, name: String): Option[String] =
      (name + "='([^']*)'").r.findFirstMatchIn(elem)
        .orElse((name + "=\"([^\"]*)\"").r.findFirstMatchIn(elem))
        .map(_.group(1))
    // every name='value' pair in an element head, minus the structural ones
    val attrPair = "([\\w:]+)=(?:'([^']*)'|\"([^\"]*)\")".r
    def extraAttrs(head: String, structural: Set[String]): Map[String, String] =
      attrPair.findAllMatchIn(head).flatMap { m =>
        val k = m.group(1)
        if (structural(k)) None
        else Some(k -> unescape(Option(m.group(2)).getOrElse(m.group(3))))
      }.toMap
    def tags(body: String): Map[String, String] =
      "<tag [^>]*/>".r.findAllIn(body).flatMap { t =>
        for (k <- attr(t, "k"); v <- attr(t, "v")) yield (unescape(k), unescape(v))
      }.toMap
    val nodes = "(?s)<node ([^>]*?)(/>|>(.*?)</node>)".r.findAllMatchIn(xml).flatMap { m =>
      val head = m.group(1); val body = Option(m.group(3)).getOrElse("")
      for (id <- attr(head, "id"); lon <- attr(head, "lon"); lat <- attr(head, "lat"))
        yield RawNode(id.toLong, lon.toDouble, lat.toDouble, tags(body),
          extraAttrs(head, Set("id", "lon", "lat")))
    }.toSeq
    val ways = "(?s)<way ([^>]*?)>(.*?)</way>".r.findAllMatchIn(xml).flatMap { m =>
      val head = m.group(1); val body = m.group(2)
      val refs = "<nd [^>]*/>".r.findAllIn(body)
        .flatMap(nd => attr(nd, "ref")).map(_.toLong).toSeq
      attr(head, "id").map(id =>
        RawWay(id.toLong, refs, tags(body), extraAttrs(head, Set("id"))))
    }.toSeq
    val rels = "(?s)<relation ([^>]*?)>(.*?)</relation>".r.findAllMatchIn(xml).flatMap { m =>
      val head = m.group(1); val body = m.group(2)
      val members = "<member [^>]*/>".r.findAllIn(body).flatMap { mm =>
        for (t <- attr(mm, "type"); r <- attr(mm, "ref"))
          yield (t, r.toLong, attr(mm, "role").getOrElse(""))
      }.toSeq
      attr(head, "id").map(id =>
        RawRel(id.toLong, members, tags(body), extraAttrs(head, Set("id"))))
    }.toSeq
    (nodes, ways, rels)
  }

  /** `tags` are the DOCUMENT-level changeset tags (osm.py Osm.tags,
    * serialized as a `<changeset>` block — osmxml.py:23-25); used by
    * add_comments to stamp import metadata onto task files. */
  final case class OsmDoc(nodes: Seq[RawNode], ways: Seq[RawWay], rels: Seq[RawRel],
      tags: Map[String, String] = Map.empty)

  /** The changeset tags every task file carries (config.py changeset_tags). */
  val ChangesetTags: Map[String, String] = Map(
    "comment" -> "#Spanish_Cadastre_Buildings_Import",
    "source" -> "Dirección General del Catastro",
    "type" -> "import",
    "url" -> "https://wiki.openstreetmap.org/wiki/Spanish_Cadastre/Buildings_Import")

  /** Parse the `<changeset>` block's tags from an OSM XML document. */
  def parseChangesetTags(xml: String): Map[String, String] =
    "(?s)<changeset>(.*?)</changeset>".r.findFirstMatchIn(xml).map { m =>
      "<tag [^>]*/>".r.findAllIn(m.group(1)).flatMap { t =>
        for {
          k <- ("k='([^']*)'".r.findFirstMatchIn(t)
            .orElse("k=\"([^\"]*)\"".r.findFirstMatchIn(t))).map(_.group(1))
          v <- ("v='([^']*)'".r.findFirstMatchIn(t)
            .orElse("v=\"([^\"]*)\"".r.findFirstMatchIn(t))).map(_.group(1))
        } yield (unescape(k), unescape(v))
      }.toMap
    }.getOrElse(Map.empty)

  /** Build an OSM document from polygon features + point features — the
    * BaseLayer.to_osm / osm.Osm container analog (osm.py:9-120, 570-600):
    * one decreasing negative-id counter shared by nodes/ways/relations
    * (ids assigned in deterministic sorted-feature order, SURVEY §1.4, so
    * output is identical at any parallelism); nodes dedup by coordinate and
    * ways by nd sequence at build time (Osm.merge_duplicated semantics);
    * a single-ring feature becomes one tagged closed way; a feature with
    * holes or multiple parts becomes a type=multipolygon relation whose
    * ring ways take outer/inner roles in part-ring order (osm.py:570-600).
    */
  def featuresToOsm(
      polys: Seq[(String, Array[Array[Array[graft.geom.Pt]]], Map[String, String])],
      points: Seq[(Double, Double, Map[String, String])] = Seq.empty,
      dedupWays: Boolean = true): OsmDoc = {
    var counter = 0L
    def nextId(): Long = { counter -= 1; counter }
    // Element.__eq__ merge rule (osm.py:192-210, same as mergeDuplicatedDoc):
    // coincident elements merge ONLY when one side is untagged or the tags
    // are equal — distinctly-tagged duplicates survive separately.
    val nodes = scala.collection.mutable.ArrayBuffer[(Double, Double, Long, Map[String, String])]()
    val nodesAt = scala.collection.mutable.Map[(Double, Double), scala.collection.mutable.ArrayBuffer[Int]]()
    val ways = scala.collection.mutable.ArrayBuffer[(Seq[Long], Long, Map[String, String])]()
    val waysAt = scala.collection.mutable.Map[Seq[Long], scala.collection.mutable.ArrayBuffer[Int]]()
    val rels = scala.collection.mutable.ArrayBuffer[RawRel]()
    def newNode(x: Double, y: Double, tags: Map[String, String]): Int = {
      nodes += ((x, y, nextId(), tags))
      nodesAt.getOrElseUpdate((x, y), scala.collection.mutable.ArrayBuffer()) += nodes.length - 1
      nodes.length - 1
    }
    /** Node for an UNTAGGED use (ring vertex): reuse the first node at the
      * coordinate (the geometry node, possibly tagged — untagged sinks). */
    def nodeOf(x: Double, y: Double): Long =
      nodesAt.get((x, y)).map(is => nodes(is.head)._3)
        .getOrElse(nodes(newNode(x, y, Map.empty))._3)
    /** Node for a TAGGED point: adopt an untagged or equal-tagged node at
      * the coordinate; a distinctly-tagged one stays separate. */
    def taggedNodeOf(x: Double, y: Double, tags: Map[String, String]): Unit = {
      val here = nodesAt.getOrElseUpdate((x, y), scala.collection.mutable.ArrayBuffer())
      here.find(i => nodes(i)._4.isEmpty || nodes(i)._4 == tags) match {
        case Some(i) => nodes(i) = (x, y, nodes(i)._3, tags)
        case None => newNode(x, y, tags)
      }
    }
    /** Way for `refs` with `tags`: merge only into an untagged or
      * equal-tagged existing way (dedupWays=false reproduces the raw to_osm,
      * one way per ring; merge_duplicated collapses later). */
    def wayOf(ring: Array[graft.geom.Pt], tags: Map[String, String]): Int = {
      val refs = ring.map(p => nodeOf(p.x, p.y)).toSeq
      val closed = if (refs.nonEmpty && refs.head != refs.last) refs :+ refs.head else refs
      val here = waysAt.getOrElseUpdate(closed, scala.collection.mutable.ArrayBuffer())
      val hit = if (dedupWays)
        here.find(i => tags.isEmpty || ways(i)._3.isEmpty || ways(i)._3 == tags)
      else None
      hit match {
        case Some(i) =>
          if (tags.nonEmpty) ways(i) = (ways(i)._1, ways(i)._2, tags)
          i
        case None =>
          ways += ((closed, nextId(), tags))
          here += ways.length - 1
          ways.length - 1
      }
    }
    for ((x, y, tags) <- points)
      if (tags.isEmpty) nodeOf(x, y) else taggedNodeOf(x, y, tags)
    for ((_, geom, tags) <- polys.sortBy(_._1)) {
      val simple = geom.length == 1 && geom.head.length == 1
      if (simple) wayOf(geom.head.head, tags)
      else {
        val members = for (part <- geom.toSeq; (ring, ri) <- part.toSeq.zipWithIndex)
          yield ("way", ways(wayOf(ring, Map.empty))._2, if (ri == 0) "outer" else "inner")
        rels += RawRel(nextId(), members, tags + ("type" -> "multipolygon"))
      }
    }
    OsmDoc(
      nodes.toSeq.map { case (x, y, id, tags) => RawNode(id, x, y, tags) },
      ways.toSeq.map { case (refs, id, tags) => RawWay(id, refs, tags) },
      rels.toSeq)
  }

  /** Serialize a full OSM document — nodes, then ways with nd refs, then
    * relations with typed members (osmxml.serialize element order,
    * osmxml.py:16-41). */
  def osmToXml(doc: OsmDoc, note: Option[String] = None): String = {
    val sb = new StringBuilder
    sb ++= "<?xml version='1.0' encoding='UTF-8'?>\n"
    sb ++= "<osm version='0.6' generator='graft' upload='never'>\n"
    note.foreach(n => sb ++= s"  <note>${escape(n)}</note>\n")
    if (doc.tags.nonEmpty) {
      sb ++= "  <changeset>\n"
      doc.tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
        sb ++= s"    <tag k='${escape(k)}' v='${escape(v)}' />\n"
      }
      sb ++= "  </changeset>\n"
    }
    def tagLines(tags: Map[String, String], indent: String): Unit =
      tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
        sb ++= s"$indent<tag k='${escape(k)}' v='${escape(v)}' />\n"
      }
    for (n <- doc.nodes) {
      sb ++= s"  <node id='${n.id}'${attrString(n.attrs)} lon='${n.lon}' lat='${n.lat}'"
      if (n.tags.isEmpty) sb ++= " />\n"
      else { sb ++= ">\n"; tagLines(n.tags, "    "); sb ++= "  </node>\n" }
    }
    for (w <- doc.ways) {
      sb ++= s"  <way id='${w.id}'${attrString(w.attrs)}>\n"
      w.ndRefs.foreach(r => sb ++= s"    <nd ref='$r' />\n")
      tagLines(w.tags, "    ")
      sb ++= "  </way>\n"
    }
    for (r <- doc.rels) {
      sb ++= s"  <relation id='${r.id}'${attrString(r.attrs)}>\n"
      r.members.foreach { case (t, ref, role) =>
        sb ++= s"    <member type='$t' ref='$ref' role='$role' />\n"
      }
      tagLines(r.tags, "    ")
      sb ++= "  </relation>\n"
    }
    sb ++= "</osm>\n"
    sb.toString
  }

  /** Osm.merge_duplicated over a FULL document (osm.py:87-120 +
    * test_osm.py:77-119's observable semantics), deterministic where the
    * reference iterates a set:
    *
    *  - nodes with one geometry merge, EXCEPT: non-new elements (id > 0,
    *    already uploaded) always survive, and distinctly-tagged elements
    *    survive separately (Element.__eq__ zeroes tags only when one side
    *    is untagged); untagged new nodes sink into the tagged/fixed
    *    representative (max id = smallest |negative id|);
    *  - way nd refs remap to the surviving nodes, consecutive duplicates
    *    collapse (clean_duplicated_nodes), then ways merge by nd sequence
    *    under the same tag rules;
    *  - relation member refs rewrite to the surviving ways/nodes. */
  def mergeDuplicatedDoc(doc: OsmDoc): OsmDoc = {
    final case class El(id: Long, tags: Map[String, String])
    // generic one-geometry-group merge: returns (survivor ids, old->new)
    def mergeGroup(els: Seq[El]): (Seq[Long], Map[Long, Long]) = {
      val (fixed, fresh) = els.partition(_.id > 0)
      val (tagged, untagged) = fresh.partition(_.tags.nonEmpty)
      val tagReps = tagged.groupBy(_.tags).values.map(_.maxBy(_.id)).toSeq.sortBy(_.id)
      val survivors = fixed ++ tagReps
      if (survivors.isEmpty) {
        val keep = untagged.maxBy(_.id)
        (Seq(keep.id), els.map(e => e.id -> keep.id).toMap)
      } else {
        val sink = (tagReps ++ fixed.sortBy(e => -e.id)).last // prefer fixed, else max tagged
        val m = Map.newBuilder[Long, Long]
        survivors.foreach(e => m += e.id -> e.id)
        tagged.foreach(e => m += e.id -> tagReps.find(_.tags == e.tags).get.id)
        untagged.foreach(e => m += e.id -> sink.id)
        (survivors.map(_.id), m.result())
      }
    }
    // nodes
    val nodeMapB = Map.newBuilder[Long, Long]
    val keptNodeIds = scala.collection.mutable.Set[Long]()
    for ((_, g) <- doc.nodes.groupBy(n => (n.lon, n.lat)).toSeq.sortBy(_._1)) {
      val (surv, m) = mergeGroup(g.map(n => El(n.id, n.tags)))
      keptNodeIds ++= surv
      nodeMapB ++= m
    }
    val nodeMap = nodeMapB.result()
    val keptNodes = doc.nodes.filter(n => keptNodeIds.contains(n.id))
    // ways: remap + clean consecutive dups, then merge by nd sequence
    val remapped = doc.ways.map { w =>
      val refs = w.ndRefs.map(r => nodeMap.getOrElse(r, r))
      val cleaned = refs.headOption.map(h =>
        h +: refs.sliding(2).collect { case Seq(a, b) if a != b => b }.toSeq)
        .getOrElse(refs)
      w.copy(ndRefs = cleaned)
    }
    val wayMapB = Map.newBuilder[Long, Long]
    val keptWayIds = scala.collection.mutable.Set[Long]()
    for ((_, g) <- remapped.groupBy(_.ndRefs).toSeq.sortBy(_._1.mkString(","))) {
      val (surv, m) = mergeGroup(g.map(w => El(w.id, w.tags)))
      keptWayIds ++= surv
      wayMapB ++= m
    }
    val wayMap = wayMapB.result()
    val keptWays = remapped.filter(w => keptWayIds.contains(w.id))
    // relations: rewrite member refs
    val rels = doc.rels.map { r =>
      r.copy(members = r.members.map { case (t, ref, role) =>
        val nref = t match {
          case "way" => wayMap.getOrElse(ref, ref)
          case "node" => nodeMap.getOrElse(ref, ref)
          case _ => ref
        }
        (t, nref, role)
      })
    }
    doc.copy(nodes = keptNodes, ways = keptWays, rels = rels)
  }

  /** Osm.remove (osm.py:59-74): remove an element from the document,
    * detach it from its parents' child lists (ways drop the node ref,
    * relations drop the member), and recursively remove children that the
    * removal orphaned (their only parent was the removed element). */
  def removeElement(doc: OsmDoc, kind: String, id: Long): OsmDoc = {
    val nodes = scala.collection.mutable.LinkedHashMap(doc.nodes.map(n => n.id -> n): _*)
    val ways = scala.collection.mutable.LinkedHashMap(doc.ways.map(w => w.id -> w): _*)
    val rels = scala.collection.mutable.LinkedHashMap(doc.rels.map(r => r.id -> r): _*)
    def nodeHasParent(nid: Long): Boolean =
      ways.values.exists(_.ndRefs.contains(nid)) ||
        rels.values.exists(_.members.exists(m => m._1 == "node" && m._2 == nid))
    def wayHasParent(wid: Long): Boolean =
      rels.values.exists(_.members.exists(m => m._1 == "way" && m._2 == wid))
    def rm(kind: String, id: Long): Unit = kind match {
      case "node" => nodes.remove(id).foreach { _ =>
        for (w <- ways.values.toSeq if w.ndRefs.contains(id))
          ways(w.id) = w.copy(ndRefs = w.ndRefs.filterNot(_ == id))
        for (r <- rels.values.toSeq
             if r.members.exists(m => m._1 == "node" && m._2 == id))
          rels(r.id) = r.copy(members =
            r.members.filterNot(m => m._1 == "node" && m._2 == id))
      }
      case "way" => ways.remove(id).foreach { w =>
        for (r <- rels.values.toSeq
             if r.members.exists(m => m._1 == "way" && m._2 == id))
          rels(r.id) = r.copy(members =
            r.members.filterNot(m => m._1 == "way" && m._2 == id))
        for (nid <- w.ndRefs.distinct if nodes.contains(nid) && !nodeHasParent(nid))
          rm("node", nid)
      }
      case _ => rels.remove(id).foreach { r =>
        for ((t, mid, _) <- r.members.distinctBy(m => (m._1, m._2))) t match {
          case "way" if ways.contains(mid) && !wayHasParent(mid) => rm("way", mid)
          case "node" if nodes.contains(mid) && !nodeHasParent(mid) => rm("node", mid)
          case _ => ()
        }
      }
    }
    rm(kind, id)
    doc.copy(nodes = nodes.values.toSeq, ways = ways.values.toSeq, rels = rels.values.toSeq)
  }

  /** Osm.replace (osm.py:76-85): substitute one node for another — the new
    * node inherits every parent reference (ways rewire the nd ref,
    * relations the member). */
  def replaceNode(doc: OsmDoc, oldId: Long, newNode: RawNode): OsmDoc =
    doc.copy(
      doc.nodes.filterNot(_.id == oldId).filterNot(_.id == newNode.id) :+ newNode,
      doc.ways.map(w => w.copy(ndRefs =
        w.ndRefs.map(r => if (r == oldId) newNode.id else r))),
      doc.rels.map(r => r.copy(members = r.members.map {
        case ("node", `oldId`, role) => ("node", newNode.id, role)
        case m => m
      })))

  /** app.merge_address (app.py:635-689): copy address tags into the
    * building document by 'ref'. An 'entrance' address lands on the
    * building-outline NODE at exactly its coordinates (outline = the
    * group's ways plus outer members of its relations, osm.py:150-158),
    * dropping 'ref' (config.show_refs=false) and 'image'; otherwise the
    * address is a 'parcel' address — applied to the group's FIRST element
    * iff it is the only one and no entrance matched (minus image/entrance),
    * refused (counted) otherwise. Returns (updated doc, refused count,
    * container tags: source:date:addr when the address doc carries
    * source:date). */
  def mergeAddressDoc(
      building: OsmDoc, address: OsmDoc,
      addressSourceDate: Option[String] = None,
      showRefs: Boolean = false): (OsmDoc, Int, Map[String, String]) = {
    val nodes = scala.collection.mutable.LinkedHashMap(
      building.nodes.map(n => n.id -> n): _*)
    val ways = scala.collection.mutable.LinkedHashMap(
      building.ways.map(w => w.id -> w): _*)
    val rels = scala.collection.mutable.LinkedHashMap(
      building.rels.map(r => r.id -> r): _*)
    // element handles in (nodes, ways, relations) order; kind 0/1/2
    val all: Seq[(Int, Long, Map[String, String])] =
      building.nodes.map(n => (0, n.id, n.tags)) ++
        building.ways.map(w => (1, w.id, w.tags)) ++
        building.rels.map(r => (2, r.id, r.tags))
    val buildingIndex = scala.collection.mutable.LinkedHashMap[
      String, scala.collection.mutable.ArrayBuffer[(Int, Long)]]()
    for ((k, id, tags) <- all; ref <- tags.get("ref"))
      buildingIndex.getOrElseUpdate(ref, scala.collection.mutable.ArrayBuffer()) +=
        ((k, id))
    var refused = 0
    for ((ref, group) <- buildingIndex) {
      val ads = address.nodes.filter(_.tags.get("ref").contains(ref))
      var entranceCount = 0
      val parcelAds = scala.collection.mutable.ArrayBuffer[RawNode]()
      for (ad <- ads) {
        var matched = false
        if (ad.tags.contains("entrance")) {
          val outline: Seq[RawWay] = group.toSeq.flatMap {
            case (1, id) => ways.get(id).toSeq
            case (2, id) => rels(id).members
              .collect { case ("way", wid, "outer") => ways.get(wid) }.flatten
            case _ => Seq.empty
          }
          val hit = outline.iterator
            .flatMap(_.ndRefs.iterator.flatMap(nodes.get))
            .find(n => n.lon == ad.lon && n.lat == ad.lat)
          hit.foreach { n =>
            val merged0 = n.tags ++ ad.tags - "image"
            val merged = if (showRefs) merged0 else merged0 - "ref"
            nodes(n.id) = n.copy(tags = merged)
            matched = true
          }
        }
        if (matched) entranceCount += 1 else parcelAds += ad
      }
      if (parcelAds.length == 1 && entranceCount == 0) {
        val ad = parcelAds.remove(0)
        val (k, id) = group.head
        def upd(tags: Map[String, String]) = tags ++ ad.tags - "image" - "entrance"
        k match {
          case 0 => nodes(id) = nodes(id).copy(tags = upd(nodes(id).tags))
          case 1 => ways(id) = ways(id).copy(tags = upd(ways(id).tags))
          case _ => rels(id) = rels(id).copy(tags = upd(rels(id).tags))
        }
      }
      refused += parcelAds.length
    }
    val containerTags = addressSourceDate
      .map(v => Map("source:date:addr" -> v)).getOrElse(Map.empty)
    (OsmDoc(nodes.values.toSeq, ways.values.toSeq, rels.values.toSeq),
      refused, containerTags)
  }

  final case class TaskFeatureS(task: String, localId: String,
      geometry: Array[Array[Array[graft.geom.Pt]]], tags: Map[String, String])

  /** One FULL .osm document per task — buildings as ways/relations plus the
    * task's address nodes (process_tasks, app.py:310-389): groupByKey(task)
    * -> build + serialize per group, one file per tile, fully distributed.
    * Keyed by the task LABEL string (the parcel refcat): labels come
    * straight from the Dataset task-map join and never round-trip through a
    * driver-side label→Long index. */
  def perTaskOsmXmlS(
      features: Dataset[TaskFeatureS],
      addrNodes: Dataset[(String, Double, Double, Map[String, String])]): Dataset[(String, String)] = {
    val spark = features.sparkSession
    import spark.implicits._
    features.groupByKey(_.task)
      .cogroup(addrNodes.groupByKey(_._1)) { (task, fIt, aIt) =>
        val polys = fIt.toSeq.sortBy(_.localId).map(f => (f.localId, f.geometry, f.tags))
        val pts = aIt.toSeq.sortBy(t => (t._2, t._3)).map(t => (t._2, t._3, t._4))
        if (polys.isEmpty && pts.isEmpty) Iterator.empty
        else Iterator((task, osmToXml(featuresToOsm(polys, pts))))
      }
  }

  /** app.write_osm (app.py:889-918): drop 'ref' tags (config.show_refs is
    * false), merge duplicated elements, serialize, gzip when the path ends
    * '.gz'. Returns the merged document (what actually landed on disk). */
  def writeOsmDoc(doc: OsmDoc, path: String, showRefs: Boolean = false): OsmDoc = {
    val cleaned = if (showRefs) doc else OsmDoc(
      doc.nodes.map(n => n.copy(tags = n.tags - "ref")),
      doc.ways.map(w => w.copy(tags = w.tags - "ref")),
      doc.rels.map(r => r.copy(tags = r.tags - "ref")))
    val merged = mergeDuplicatedDoc(cleaned)
    writeTextFile(path, osmToXml(merged))
    merged
  }

  /** Serialize + write a document verbatim (no ref-drop, no merge) —
    * add_comments' rewrite path, which must not touch reviewed geometry. */
  def writeDocFile(doc: OsmDoc, path: String): Unit =
    writeTextFile(path, osmToXml(doc))

  private def writeTextFile(path: String, s: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val out: java.io.OutputStream =
      if (path.endsWith(".gz"))
        new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(p))
      else java.nio.file.Files.newOutputStream(p)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read an .osm / .osm.gz file back into a parsed document
    * (app.read_osm's local-file path, app.py:857-887). */
  def readOsmFile(path: String): (Seq[RawNode], Seq[RawWay], Seq[RawRel]) = {
    val in: java.io.InputStream =
      if (path.endsWith(".gz"))
        new java.util.zip.GZIPInputStream(
          java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path)))
      else java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    val xml = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
    parseOsm(xml)
  }

  /** process_tasks' FILE sink (app.py:350): one '<label>.osm.gz' per task,
    * written where each partition runs — the reference's actual output
    * artifact, distributed. A speculative re-execution rewrites the same
    * bytes, so the sink is idempotent. Returns the file count. */
  def writeTaskFiles(docs: Dataset[(String, String)], dir: String): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    docs.map { case (label, xml) =>
      writeTextFile(s"$dir/$label.osm.gz", xml)
      label
    }.count()
  }
}
