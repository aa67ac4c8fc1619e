package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import OsmOut.{OsmDoc, RawNode, RawRel, RawWay}

/** Replays test_app.test_merge_address (test_app.py:299-341) verbatim:
  * entrance addresses land on the matching outline node (image/ref
  * dropped), non-entrance singletons tag the building way, an entrance
  * address with no matching node falls back to the way, relation outer
  * members are searched, and source:date propagates to the container. */
class MergeAddressGoldenSpec extends AnyFunSuite {

  private def node(id: Long, x: Double, y: Double, tags: (String, String)*) =
    RawNode(id, x, y, tags.toMap)

  test("reference golden: merge_address tag routing") {
    val address = OsmDoc(Seq(
      node(-1, 0, 0, "ref" -> "1", "addr:street" -> "address1", "image" -> "foo"),
      node(-2, 2, 0, "ref" -> "2", "addr:street" -> "address2",
        "entrance" -> "yes", "image" -> "bar"),
      node(-3, 4, 0, "ref" -> "3", "addr:street" -> "address3", "entrance" -> "yes"),
      node(-4, 6, 0, "ref" -> "4", "addr:place" -> "address5", "entrance" -> "yes")),
      Seq.empty, Seq.empty)

    // building doc: nodes allocated explicitly so way nd refs resolve
    val bNodes = Seq(
      node(-10, 0, 0), node(-11, 1, 0), node(-12, 1, 1), // w1 ring
      node(-20, 2, 0), node(-21, 3, 0), node(-22, 3, 1), // w2 ring (n2 = -20)
      node(-30, 4, 1), node(-31, 5, 0), node(-32, 5, 1), // w3 ring
      node(-40, 6, 5), node(-41, 9, 5), node(-42, 9, 8), node(-43, 6, 8), // w6
      node(-50, 6, 0), node(-51, 9, 0), node(-52, 9, 3), node(-53, 6, 3), // w7 (n5 = -50)
      node(-60, 7, 1), node(-61, 8, 1), node(-62, 8, 2), node(-63, 7, 2)) // w8
    val w0 = RawWay(-100, Seq.empty, Map("ref" -> "0"))
    val w1 = RawWay(-101, Seq(-10L, -11L, -12L, -10L), Map("ref" -> "1"))
    val w2 = RawWay(-102, Seq(-20L, -21L, -22L, -20L), Map("ref" -> "2"))
    val w3 = RawWay(-103, Seq(-30L, -31L, -32L, -30L), Map("ref" -> "3"))
    val w6 = RawWay(-106, Seq(-40L, -41L, -42L, -43L, -40L), Map.empty)
    val w7 = RawWay(-107, Seq(-50L, -51L, -52L, -53L, -50L), Map.empty)
    val w8 = RawWay(-108, Seq(-60L, -61L, -62L, -63L, -60L), Map.empty)
    val r1 = RawRel(-200, Seq(
      ("way", -106L, "outer"), ("way", -107L, "outer"), ("way", -108L, "inner")),
      Map("ref" -> "4"))
    val building = OsmDoc(bNodes, Seq(w0, w1, w2, w3, w6, w7, w8), Seq(r1))

    val (out, refused, cTags) = OsmOut.mergeAddressDoc(building, address)
    def way(id: Long) = out.ways.find(_.id == id).get
    def nd(id: Long) = out.nodes.find(_.id == id).get
    // ref 0: no address -> untouched
    assert(way(-100).tags === Map("ref" -> "0"))
    // ref 1: non-entrance singleton -> tags to the way, image dropped
    assert(way(-101).tags("addr:street") === "address1")
    assert(!way(-101).tags.contains("image"))
    // ref 2: entrance matches node (2,0) -> tags to the NODE, image+ref dropped
    assert(nd(-20).tags("addr:street") === "address2")
    assert(!nd(-20).tags.contains("image"))
    assert(!nd(-20).tags.contains("ref"))
    assert(!way(-102).tags.contains("addr:street"))
    // ref 3: entrance does NOT match any node -> falls back to the way
    assert(way(-103).tags("addr:street") === "address3")
    assert(out.nodes.forall(n => !n.tags.contains("addr:street") || n.id == -20))
    // ref 4: entrance matches a node of an OUTER relation member
    assert(nd(-50).tags("addr:place") === "address5")
    assert(refused === 0)
    assert(cTags.isEmpty)

    // source:date on the address doc propagates to the container tags
    val (_, _, cTags2) =
      OsmOut.mergeAddressDoc(building, address, addressSourceDate = Some("foobar"))
    assert(cTags2 === Map("source:date:addr" -> "foobar"))
  }

  test("parcel address refused when the ref has several of them") {
    val address = OsmDoc(Seq(
      node(-1, 0, 0, "ref" -> "1", "addr:street" -> "a"),
      node(-2, 1, 1, "ref" -> "1", "addr:street" -> "b")), Seq.empty, Seq.empty)
    val building = OsmDoc(
      Seq(node(-10, 0, 0), node(-11, 1, 0), node(-12, 1, 1)),
      Seq(RawWay(-100, Seq(-10L, -11L, -12L, -10L), Map("ref" -> "1"))), Seq.empty)
    val (out, refused, _) = OsmOut.mergeAddressDoc(building, address)
    assert(refused === 2) // not unique for its building -> both refused
    assert(!out.ways.head.tags.contains("addr:street"))
  }
}

/** test_app.test_get_translations observable behavior: stripped values on
  * both the compute-and-write path and the read-back path. */
class GetTranslationsSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  test("first run writes get_names output; later runs read it; values strip") {
    graft.TestSpark.withTempDir("graft_names") { tmp =>
      val dir = tmp.toString
      val path = s"$dir/highway_names.csv"
      var computed = 0
      val first = CsvGeoJson.getTranslations(spark, path, isNew = true) {
        computed += 1; Map("TAZ" -> " taz ", "RAZ" -> " raz ")
      }
      assert(first === Map("TAZ" -> "taz", "RAZ" -> "raz"))
      assert(computed === 1)
      val second = CsvGeoJson.getTranslations(spark, path, isNew = false) {
        computed += 1; fail("must not recompute on resume")
      }
      assert(second === Map("TAZ" -> "taz", "RAZ" -> "raz"))
      assert(computed === 1)
    }
  }
}

/** Replays test_osm.test_remove (test_osm.py:33-64): cascading element
  * removal with orphaned-child cleanup through the exact golden counts. */
class OsmRemoveGoldenSpec extends AnyFunSuite {
  import OsmOut.{OsmDoc, RawNode, RawRel, RawWay}

  test("reference golden: remove cascades 12 -> 10 -> 9 -> 5 -> 0") {
    def n(id: Long, x: Double, y: Double) = RawNode(id, x, y, Map.empty)
    val doc0 = OsmDoc(
      Seq(n(-1, 0, 0), n(-2, 1, 0), n(-3, 1, 1), n(-4, 0, 1),
        n(-5, 2, 0), n(-6, 2, 1), n(-7, 1, 0.5)),
      Seq(
        RawWay(-11, Seq(-2L, -1L, -4L, -3L), Map.empty), // w1 = (n1 n0 n3 n2)
        RawWay(-12, Seq(-2L, -7L, -3L), Map.empty),      // w2 = (n1 n6 n2)
        RawWay(-13, Seq(-2L, -5L, -6L, -3L), Map.empty)), // w3 = (n1 n4 n5 n2)
      Seq(
        RawRel(-21, Seq(("way", -11L, ""), ("way", -12L, "")), Map.empty), // r1
        RawRel(-22, Seq(("way", -12L, ""), ("way", -13L, "")), Map.empty))) // r2
    def count(d: OsmDoc) = d.nodes.length + d.ways.length + d.rels.length
    assert(count(doc0) === 12)
    val d1 = OsmOut.removeElement(doc0, "way", -12) // remove w2 -> n6 orphaned
    assert(count(d1) === 10)
    assert(!d1.ways.exists(_.id == -12) && !d1.nodes.exists(_.id == -7))
    val d2 = OsmOut.removeElement(d1, "node", -3) // remove n2 from w1/w3
    assert(count(d2) === 9)
    assert(d2.ways.forall(!_.ndRefs.contains(-3L)))
    val d3 = OsmOut.removeElement(d2, "relation", -22) // r2 -> w3, n4, n5 orphaned
    assert(count(d3) === 5)
    assert(!d3.ways.exists(_.id == -13) && !d3.nodes.exists(_.id == -5) &&
      !d3.nodes.exists(_.id == -6))
    val d4 = OsmOut.removeElement(d3, "relation", -21) // r1 -> everything left
    assert(count(d4) === 0)
  }
}

/** test_osm.test_replace: the new node inherits every parent reference. */
class OsmReplaceGoldenSpec extends AnyFunSuite {
  import OsmOut.{OsmDoc, RawNode, RawWay}

  test("replace rewires way refs and relation members to the new node") {
    val doc = OsmDoc(
      Seq(RawNode(-1, 1, 1, Map.empty), RawNode(-2, 0, 0, Map.empty)),
      Seq(RawWay(-10, Seq(-1L, -2L, -1L), Map.empty)),
      Seq(OsmOut.RawRel(-20, Seq(("node", -1L, "via")), Map.empty)))
    val out = OsmOut.replaceNode(doc, -1L, RawNode(-3, 2, 2, Map("ele" -> "7")))
    assert(!out.nodes.exists(_.id == -1L))
    assert(out.nodes.exists(n => n.id == -3L && n.tags == Map("ele" -> "7")))
    assert(out.ways.head.ndRefs === Seq(-3L, -2L, -3L))
    assert(out.rels.head.members === Seq(("node", -3L, "via")))
  }
}

/** app.write_osm semantics + the distributed per-task file sink. */
class WriteOsmSpec extends AnyFunSuite {
  import OsmOut.{OsmDoc, RawNode, RawWay}
  lazy val spark = graft.TestSpark.spark

  test("write_osm drops ref tags, merges duplicates, gzips; reads back") {
    graft.TestSpark.withTempDir("graft_osm") { tmp =>
      val dir = tmp.toString
      val doc = OsmDoc(
        Seq(RawNode(-1, 0, 0, Map("ref" -> "X", "entrance" -> "yes")),
          RawNode(-2, 0, 0, Map.empty), // duplicate coordinate -> merges
          RawNode(-3, 1, 0, Map.empty)),
        Seq(RawWay(-10, Seq(-1L, -3L), Map("ref" -> "Y", "building" -> "yes"))),
        Seq.empty)
      val merged = OsmOut.writeOsmDoc(doc, s"$dir/a.osm.gz")
      assert(merged.nodes.forall(n => !n.tags.contains("ref")))
      assert(merged.ways.head.tags === Map("building" -> "yes"))
      assert(merged.nodes.length === 2) // -2 sank into the tagged -1
      val (ns, ws, _) = OsmOut.readOsmFile(s"$dir/a.osm.gz")
      assert(ns.map(n => (n.lon, n.lat, n.tags)).toSet ===
        merged.nodes.map(n => (n.lon, n.lat, n.tags)).toSet)
      assert(ws.head.tags === Map("building" -> "yes"))
    }
  }

  test("distributed task-file sink writes one .osm.gz per label") {
    graft.TestSpark.withTempDir("graft_tasks") { tmp =>
      import spark.implicits._
      val dir = tmp.toString
      val docs = spark.createDataset(Seq(
        ("T1", OsmOut.osmToXml(OsmDoc(Seq(RawNode(-1, 0, 0, Map("a" -> "1"))), Seq.empty, Seq.empty))),
        ("T2", OsmOut.osmToXml(OsmDoc(Seq(RawNode(-1, 2, 2, Map("b" -> "2"))), Seq.empty, Seq.empty)))))
        .repartition(2)
      assert(OsmOut.writeTaskFiles(docs, dir) === 2L)
      val (ns, _, _) = OsmOut.readOsmFile(s"$dir/T2.osm.gz")
      assert(ns.head.tags === Map("b" -> "2"))
    }
  }
}
