package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.RefFixtures

class OsmOutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("negative ids are a pure function of key order, at any parallelism") {
    import spark.implicits._
    val addr = graft.layers.SynthCadastre.addresses(spark, TestSpark.sf001)
    val a = OsmOut.addressNodes(addr, "bid", "px", "py", Map.empty)
      .select("key", "osm_id").as[(Long, Long)].collect().toMap
    val b = OsmOut.addressNodes(addr.repartition(7), "bid", "px", "py", Map.empty)
      .select("key", "osm_id").as[(Long, Long)].collect().toMap
    assert(a === b)
    assert(a.values.min === -a.size.toLong && a.values.max === -1L)
  }

  test("XML serialize/deserialize round-trips nodes with tags") {
    val nodes = Seq(
      (-1L, 1.5, 2.5, Map("addr:street" -> "Calle O'Hara & <Co>", "ref" -> "7")),
      (-2L, 3.25, 4.75, Map.empty[String, String]))
    val xml = OsmOut.nodesToXml(nodes)
    assert(OsmOut.xmlToNodes(xml).toSet === nodes.toSet)
  }

  test("reference test_osmxml.test_serialize: pool way + multipolygon relation") {
    import graft.geom.Pt
    // the reference's fixture: a tagged entrance node, a closed pool way,
    // a building multipolygon with one hole (test_osmxml.py:9-49)
    val poolRing = Array(Pt(12, 0), Pt(14, 0), Pt(14, 2), Pt(12, 2))
    val mpOuter = Array(Pt(0, 0), Pt(10, 0), Pt(10, 6), Pt(0, 6))
    val mpInner = Array(Pt(8, 1), Pt(9, 1), Pt(9, 2), Pt(8, 2))
    val doc = OsmOut.featuresToOsm(
      Seq(
        ("pool1", Array(Array(poolRing)), Map("leisure" -> "swiming_pool")),
        ("bld1", Array(Array(mpOuter, mpInner)), Map("building" -> "residential"))),
      Seq((4.0, 0.0, Map("entrance" -> "yes",
        "addr:street" -> "Calle la Ñ", "addr:housenumber" -> "7"))))
    // 3 ways total (pool + outer + inner), 1 relation, as the reference asserts
    assert(doc.ways.length === 3)
    assert(doc.rels.length === 1)
    val r = doc.rels.head
    assert(r.tags("type") === "multipolygon")
    assert(r.tags("building") === "residential")
    assert(r.members.map(_._3) === Seq("outer", "inner"))
    assert(r.members.forall(_._1 === "way"))
    // member refs resolve to ways whose nd refs resolve to nodes (closed)
    val waysById = doc.ways.map(w => w.id -> w).toMap
    val nodeIds = doc.nodes.map(_.id).toSet
    for ((_, ref, _) <- r.members) {
      val w = waysById(ref)
      assert(w.ndRefs.head === w.ndRefs.last, "ring ways are closed")
      assert(w.ndRefs.forall(nodeIds.contains), "no dangling nd refs")
    }
    // tagged node kept its tags; pool way carries its tag
    val entrance = doc.nodes.find(_.tags.contains("entrance")).get
    assert(entrance.lon === 4.0 && entrance.tags("addr:housenumber") === "7")
    assert(doc.ways.count(_.tags.get("leisure").contains("swiming_pool")) === 1)
    // all ids are unique negatives across the three element kinds
    val allIds = doc.nodes.map(_.id) ++ doc.ways.map(_.id) ++ doc.rels.map(_.id)
    assert(allIds.forall(_ < 0) && allIds.distinct.length === allIds.length)
  }

  test("osmToXml round-trips nodes, ways and relations through parseOsm") {
    import graft.geom.Pt
    val doc = OsmOut.featuresToOsm(
      Seq(
        ("a", Array(Array(Array(Pt(0, 0), Pt(1, 0), Pt(1, 1)))), Map("building" -> "yes")),
        ("b", Array(
          Array(Array(Pt(0, 0), Pt(4, 0), Pt(4, 4), Pt(0, 4)),
            Array(Pt(1, 1), Pt(2, 1), Pt(2, 2), Pt(1, 2))),
          Array(Array(Pt(10, 10), Pt(11, 10), Pt(11, 11)))),
          Map("building" -> "residential", "name" -> "O'Hara & <Co>"))),
      Seq((0.5, 0.5, Map("entrance" -> "yes"))))
    val xml = OsmOut.osmToXml(doc, note = Some("results"))
    val (ns, ws, rs) = OsmOut.parseOsm(xml)
    assert(ns.map(n => (n.id, n.lon, n.lat, n.tags)).toSet ===
      doc.nodes.map(n => (n.id, n.lon, n.lat, n.tags)).toSet)
    assert(ws.map(w => (w.id, w.ndRefs, w.tags)).toSet ===
      doc.ways.map(w => (w.id, w.ndRefs, w.tags)).toSet)
    assert(rs.map(r => (r.id, r.members, r.tags)).toSet ===
      doc.rels.map(r => (r.id, r.members, r.tags)).toSet)
    // the second multipolygon has 3 ring ways: outer+inner, then 2nd part outer
    assert(rs.exists(_.members.map(_._3) === Seq("outer", "inner", "outer")))
  }

  test("shared walls dedup nodes; Element.__eq__ way-merge rule (osm.py:192-210)") {
    import graft.geom.Pt
    val ring = Array(Pt(0, 0), Pt(1, 0), Pt(1, 1), Pt(0, 1))
    // DISTINCTLY-tagged coincident rings survive as separate ways (the
    // reference merges only when one side is untagged or tags are equal)
    val doc = OsmOut.featuresToOsm(Seq(
      ("b", Array(Array(ring)), Map("building" -> "yes")),
      ("b_part1", Array(Array(ring)), Map("building:levels" -> "2"))))
    assert(doc.ways.length === 2)
    assert(doc.nodes.length === 4) // untagged nodes still dedup by coordinate
    assert(doc.ways.map(_.tags).toSet ===
      Set(Map("building" -> "yes"), Map("building:levels" -> "2")))
    // equal tags merge to one way; an untagged duplicate sinks into it
    val doc2 = OsmOut.featuresToOsm(Seq(
      ("a", Array(Array(ring)), Map("building" -> "yes")),
      ("b", Array(Array(ring)), Map("building" -> "yes"))))
    assert(doc2.ways.length === 1)
    assert(doc2.ways.head.tags === Map("building" -> "yes"))
    // a multipolygon member ring (untagged use) reuses the tagged way
    val outer = Array(Pt(0, 0), Pt(9, 0), Pt(9, 9), Pt(0, 9))
    val doc3 = OsmOut.featuresToOsm(Seq(
      ("w", Array(Array(ring)), Map("building" -> "yes")),
      ("mp", Array(Array(outer, ring)), Map("building" -> "house"))))
    assert(doc3.ways.length === 2) // outer + the shared inner==w ring
    val rel = doc3.rels.head
    val taggedWay = doc3.ways.find(_.tags.nonEmpty).get
    assert(rel.members.exists { case (t, ref, role) =>
      t == "way" && ref == taggedWay.id && role == "inner" })
  }

  test("perTaskOsmXml: one full document per tile, ways+relations intact") {
    import spark.implicits._
    import graft.geom.Pt
    def sq(x: Double, y: Double) =
      Array(Array(Array(Pt(x, y), Pt(x + 1, y), Pt(x + 1, y + 1), Pt(x, y + 1))))
    val feats = spark.createDataset(Seq(
      OsmOut.TaskFeature(1L, "f1", sq(0, 0), Map("building" -> "yes")),
      OsmOut.TaskFeature(1L, "f2", Array(
        Array(Array(Pt(5, 5), Pt(9, 5), Pt(9, 9), Pt(5, 9)),
          Array(Pt(6, 6), Pt(7, 6), Pt(7, 7), Pt(6, 7)))), Map("building" -> "house")),
      OsmOut.TaskFeature(2L, "f3", sq(20, 20), Map("building" -> "yes"))))
    val addrs = spark.createDataset(Seq(
      (1L, 0.5, 0.0, Map("addr:housenumber" -> "3")),
      (3L, 99.0, 99.0, Map("addr:housenumber" -> "9")))) // task with only nodes
    val docs = OsmOut.perTaskOsmXml(feats, addrs).collect().toMap
    assert(docs.keySet === Set(1L, 2L, 3L))
    val (n1, w1, r1) = OsmOut.parseOsm(docs(1L))
    assert(w1.length === 3 && r1.length === 1) // f1 way + f2 outer/inner + rel
    assert(n1.exists(_.tags.get("addr:housenumber").contains("3")))
    val (_, w2, r2) = OsmOut.parseOsm(docs(2L))
    assert(w2.length === 1 && r2.isEmpty)
    val (n3, w3, _) = OsmOut.parseOsm(docs(3L))
    assert(n3.length === 1 && w3.isEmpty)
  }

  test("reference law: to_osm way/relation counts on cons.shp (test_cons.py:495-509)") {
    val cons = Shapefile.read(RefFixtures.fixture("cons.shp"))
    val polys = cons.zipWithIndex.map { case (f, i) =>
      (s"${f.attrs("localId")}#$i", f.geometry, Map("building" -> "yes"))
    }
    // dedupWays=false reproduces the reference's raw to_osm counting
    val doc = OsmOut.featuresToOsm(polys, dedupWays = false)
    val expWays = cons.map(f => f.geometry.map(_.length).sum).sum
    val expRels = cons.count(f => f.geometry.length + f.geometry.head.length > 2)
    assert(doc.ways.length === expWays, "one way per ring")
    assert(doc.rels.length === expRels, "a relation iff multipart or holed")
    assert(expRels > 0 && expWays > cons.length)
  }

  test("reference law: address to_osm tags (test_address.py:92-114)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ads = graft.sources.InspireGml
      .resolvedAddresses(spark, RefFixtures.fixture("address.gml"))
      .select(col("localId"), col("TN_text"), col("designator"), col("x"), col("y"))
      .as[(String, String, String, Double, Double)].collect()
    val nodes = ads.map { case (lid, tn, des, x, y) =>
      val ref = lid.split("\\.").last
      (x, y, Map("ref" -> ref,
        "addr:street" -> Option(tn).getOrElse(""),
        "addr:housenumber" -> Option(des).getOrElse("")))
    }
    val doc = OsmOut.featuresToOsm(Seq.empty, nodes.toSeq)
    assert(doc.nodes.length === ads.length) // featureCount nodes (+1 seed in ref)
    val byRef = doc.nodes.flatMap(n => n.tags.get("ref").map(r =>
      r -> (n.tags("addr:street") + n.tags("addr:housenumber")))).toMap
    for ((lid, tn, des, _, _) <- ads) {
      val t = byRef(lid.split("\\.").last)
      assert(t === Option(tn).getOrElse("") + Option(des).getOrElse(""), lid)
    }
  }

  test("reference golden: Osm.merge_duplicated observable semantics (test_osm.py:77-119)") {
    import OsmOut.{OsmDoc, RawNode, RawRel, RawWay}
    // the reference fixture: negative ids are new elements; n4/n6 carry
    // POSITIVE ids (already uploaded); w1 untagged == w2 tagged by geometry
    val n1 = RawNode(-1, 1, 1, Map.empty)
    val n2 = RawNode(-2, 2, 2, Map.empty)
    val n3 = RawNode(-3, 3, 3, Map("a" -> "b"))
    val n4 = RawNode(1, 4, 4, Map.empty)   // id set to 1 (not new)
    val n5 = RawNode(-5, 4, 4, Map.empty)
    val n6 = RawNode(2, 4, 4, Map.empty)   // id set to 2 (not new)
    val n7 = RawNode(-7, 3, 3, Map.empty)
    val n8 = RawNode(-8, 5, 5, Map("a" -> "1"))
    val n9 = RawNode(-9, 5, 5, Map("b" -> "2"))
    val n10 = RawNode(-10, 5, 5, Map.empty)
    // w1's own vertices duplicate n1/n2/n3's coordinates
    val w1n = Seq(RawNode(-11, 1, 1, Map.empty), RawNode(-12, 1, 0, Map.empty),
      RawNode(-13, 2, 2, Map.empty), RawNode(-14, 3, 2, Map.empty),
      RawNode(-15, 3, 3, Map.empty))
    val w2n = Seq(RawNode(-16, 1, 1, Map.empty), RawNode(-17, 1, 0, Map.empty),
      RawNode(-18, 2, 2, Map.empty), RawNode(-19, 3, 2, Map.empty),
      RawNode(-20, 3, 3, Map.empty))
    val w1 = RawWay(-30, w1n.map(_.id), Map.empty)
    val w2 = RawWay(-31, w2n.map(_.id), Map("x" -> "y"))
    val r1 = RawRel(-40, Seq(("way", w1.id, ""), ("node", n3.id, "")), Map.empty)
    val r2 = RawRel(-41, Seq(("way", w2.id, "")), Map.empty)
    val doc = OsmDoc(
      Seq(n1, n2, n3, n4, n5, n6, n7, n8, n9, n10) ++ w1n ++ w2n,
      Seq(w1, w2), Seq(r1, r2))
    val out = OsmOut.mergeDuplicatedDoc(doc)
    val byPos = out.nodes.groupBy(n => (n.lon, n.lat))
    for ((pos, g) <- byPos) {
      if (pos == ((4.0, 4.0)) || pos == ((5.0, 5.0)))
        assert(g.length === 2, s"$pos") // fixed-id pair / distinctly-tagged pair
      else assert(g.length === 1, s"$pos")
    }
    // n3 survives with its id and tags; the way's (3,3) vertex resolves to it
    val at33 = byPos((3.0, 3.0)).head
    assert(at33.id === n3.id && at33.tags("a") === "b")
    // the untagged way merged into the tagged one; relations re-point to it
    assert(out.ways.length === 1)
    assert(out.ways.head.id === w2.id && out.ways.head.tags("x") === "y")
    assert(out.rels.find(_.id == r1.id).get.members.head._2 === w2.id)
    assert(out.rels.find(_.id == r2.id).get.members.head._2 === w2.id)
    // surviving way's nd refs all resolve to surviving nodes
    val nodeIds = out.nodes.map(_.id).toSet
    assert(out.ways.head.ndRefs.forall(nodeIds.contains))
    assert(out.ways.head.ndRefs.contains(n3.id))
  }

  test("perTaskXml emits one document per task with that task's nodes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val addr = graft.layers.SynthCadastre.addresses(spark, TestSpark.sf001)
    val nodes = OsmOut.addressNodes(addr, "bid", "px", "py", Map("ref" -> "bid"))
      .withColumn("task", pmod(col("key"), lit(3)))
    val perTask = OsmOut.perTaskXml(nodes, "task").collect().toMap
    assert(perTask.size === 3)
    val total = perTask.values.map(x => OsmOut.xmlToNodes(x).size).sum
    assert(total === addr.count())
  }
}

class MediaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("decodeFeatures preserves rows, metadata, and emits normalized features") {
    import spark.implicits._
    val media = graft.multimodal.Media.synth(spark, TestSpark.sf001)
    val feats = graft.multimodal.Media.decodeFeatures(media)
      .as[graft.multimodal.Media.MediaFeatures].collect()
    assert(feats.length === media.count())
    feats.foreach { f =>
      assert(f.features.length === 8)
      assert(math.abs(f.features.map(_.toDouble).sum - 1.0) < 1e-5) // histogram sums to 1
    }
  }

  test("decode is deterministic across partitionings (no shuffle dependence)") {
    import spark.implicits._
    val media = graft.multimodal.Media.synth(spark, TestSpark.sf001)
    val a = graft.multimodal.Media.decodeFeatures(media)
      .as[graft.multimodal.Media.MediaFeatures].collect()
      .map(f => (f.doc_id, f.features.toSeq)).toMap
    val b = graft.multimodal.Media.decodeFeatures(media.repartition(5))
      .as[graft.multimodal.Media.MediaFeatures].collect()
      .map(f => (f.doc_id, f.features.toSeq)).toMap
    assert(a === b)
  }
}

/** Deserialize the reference's real current.osm fixture (JOSM export used
  * by its conflation tests) and resolve way geometry via the engine's
  * relational ref-resolution (osmxml.deserialize semantics). */
class CurrentOsmSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  test("current.osm parses: 58 nodes, 8 ways, 1 relation; refs resolve via joins") {
    import spark.implicits._
    val xml = java.nio.file.Files.readString(
      java.nio.file.Paths.get(RefFixtures.fixture("current.osm")))
    val (nodes, ways, rels) = OsmOut.parseOsm(xml)
    assert(nodes.length === 58)
    assert(ways.length === 8)
    assert(rels.length === 1)
    // relational ref resolution: every nd ref resolves to a fixture node
    val nodeDf = nodes.map(n => (n.id, n.lon, n.lat)).toDF("osm_id", "x", "y")
    val wayDf = ways.map(w => (w.id, w.ndRefs)).toDF("way_id", "nd_refs")
    val resolved = OsmOut.resolveWays(wayDf, nodeDf).collect()
    assert(resolved.length === 8)
    assert(resolved.forall(_.getAs[Long]("n_dangling") === 0L))
    // the relation's way members exist in the file
    val wayIds = ways.map(_.id).toSet
    val memberWays = rels.head.members.filter(_._1 == "way").map(_._2)
    assert(memberWays.nonEmpty && memberWays.forall(wayIds.contains))
    // closed building ways are polygon candidates for conflation
    val byId = nodes.map(n => n.id -> n).toMap
    val closed = ways.filter(w => w.ndRefs.nonEmpty && w.ndRefs.head == w.ndRefs.last)
    assert(closed.nonEmpty)
  }

  test("JOSM element attrs (action/visible/version/...) round-trip serialize") {
    val xml = java.nio.file.Files.readString(
      java.nio.file.Paths.get(RefFixtures.fixture("current.osm")))
    val (nodes, ways, rels) = OsmOut.parseOsm(xml)
    // the JOSM fixture: new (negative-id) elements carry action/visible,
    // already-uploaded ones carry version/timestamp/changeset/uid/user
    assert(nodes.filter(_.id < 0)
      .forall(_.attrs === Map("action" -> "modify", "visible" -> "true")))
    val uploaded = nodes.filter(_.id > 0)
    assert(uploaded.nonEmpty &&
      uploaded.forall(n => n.attrs.contains("version") && n.attrs.contains("timestamp")))
    val out = OsmOut.osmToXml(OsmOut.OsmDoc(nodes, ways, rels))
    val (n2, w2, r2) = OsmOut.parseOsm(out)
    assert(n2.map(n => (n.id, n.attrs)).toSet === nodes.map(n => (n.id, n.attrs)).toSet)
    assert(w2.map(w => (w.id, w.attrs)).toSet === ways.map(w => (w.id, w.attrs)).toSet)
    assert(r2.map(r => (r.id, r.attrs)).toSet === rels.map(r => (r.id, r.attrs)).toSet)
    // elements created by this engine stay attr-free -> serialized heads
    // unchanged (task-doc goldens remain byte-identical)
    val fresh = OsmOut.osmToXml(OsmOut.OsmDoc(
      Seq(OsmOut.RawNode(-1, 1.0, 2.0, Map("a" -> "b"))), Seq.empty, Seq.empty))
    assert(fresh.contains("<node id='-1' lon='1.0' lat='2.0'>"))
  }
}
