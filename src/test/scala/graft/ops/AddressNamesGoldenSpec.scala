package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.geom.Pt
import graft.sources.InspireGml
import graft.RefFixtures

/** Replays AddressLayer golden tests on the reference's own fixtures:
  * test_conflate (14→10, idempotent; test_address.py:115-125) and
  * test_get_names (the full expected translation table,
  * test_address.py:127-149, over address/highway/place.geojson). */
class AddressNamesGoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("reference golden: address conflate 14 -> 10, idempotent") {
    val ads = InspireGml.resolvedAddresses(spark, RefFixtures.fixture("address.gml"))
      .select("localId", "TN_text", "designator").collect()
      .map(r => (r.getString(0), Option(r.getString(1)).getOrElse(""), r.getString(2)))
      .toSeq
    assert(ads.length === 14)
    val current = Set("CJ CALLEJON (FASNIA)12", "CJ CALLEJON (FASNIA)13")
    val once = AddressNames.conflateAddresses(ads, current)
    assert(once.length === 10, s"got ${once.length}")
    assert(AddressNames.conflateAddresses(once, current).length === 10)
  }

  test("reference golden: get_names translation table") {
    val addresses = spark.read.option("multiLine", true).json(RefFixtures.fixture("address.geojson"))
      .select(explode(col("features")).as("f"))
      .select(col("f.properties.TN_text").as("tn"),
        col("f.geometry.coordinates").as("c"))
      .collect()
      .map(r => (r.getAs[String]("tn"),
        Pt(r.getSeq[Double](1).head, r.getSeq[Double](1)(1))))
      .toSeq
    val highways = AddressNames.loadNamed(spark, RefFixtures.fixture("highway.geojson"))
    val places = AddressNames.loadNamed(spark, RefFixtures.fixture("place.geojson"))
    // the Dataset path IS the only get_names flavor; the golden rides it
    val got = {
      import spark.implicits._
      AddressNames.getNamesD(
          spark.createDataset(addresses.map(a => (a._1, a._2.x, a._2.y))),
          AddressNames.namedRows(spark, highways, places))
        .as[(String, String, String)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
    }
    val golden = Map(
      "AV PAZ (FASNIA)" -> (("Avenida la Paz", "OSM")),
      "CL SAN JOAQUIN (FASNIA)" -> (("Calle San Joaquín", "OSM")),
      "CL HOYO (FASNIA)" -> (("Calle el Hoyo", "OSM")),
      "CJ CALLEJON (FASNIA)" -> (("Calleja/Callejón Callejon (Fasnia)", "CAT")),
      "PZ FRANCISCO DELGADO" -> (("squarePlaza Francisco Delgado y Diaz Flores", "OSM")),
      "UR PRUEBA" -> (("Urbanización de prueba", "OSM")),
      "PZ CONSTITUCION (FASNIA)" -> (("squarePlaza de la Constitución", "OSM")),
      "PZ PRUEBA" -> (("Plaza Prueba", "OSM")))
    for ((k, v) <- got) {
      assert(golden.contains(k), s"unexpected street $k -> $v")
      assert(v === golden(k), s"$k")
    }
  }

  test("get_names is partitioning-invariant") {
    import spark.implicits._
    val addresses = spark.read.option("multiLine", true).json(RefFixtures.fixture("address.geojson"))
      .select(explode(col("features")).as("f"))
      .select(col("f.properties.TN_text").as("tn"),
        col("f.geometry.coordinates").as("c"))
      .collect()
      .map(r => (r.getAs[String]("tn"),
        Pt(r.getSeq[Double](1).head, r.getSeq[Double](1)(1))))
      .toSeq
    val highways = AddressNames.loadNamed(spark, RefFixtures.fixture("highway.geojson"))
    val places = AddressNames.loadNamed(spark, RefFixtures.fixture("place.geojson"))
    val addrDs = spark.createDataset(addresses.map(a => (a._1, a._2.x, a._2.y)))
    val namedDs = AddressNames.namedRows(spark, highways, places)
    val got = AddressNames.getNamesD(addrDs, namedDs)
      .as[(String, String, String)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val got8 = AddressNames.getNamesD(addrDs.repartition(8), namedDs.repartition(5))
      .as[(String, String, String)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got8 === got)
    assert(got.nonEmpty)
  }
}

/** Replays geo/layer test_highway.test_read_from_osm: a named way and an
  * unnamed way that inherits its relation's name -> 2 polyline features. */
class HighwayFromOsmSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.sources.OsmOut.{OsmDoc, RawNode, RawRel, RawWay}

  test("reference golden: read_from_osm names + relation inheritance") {
    val doc = OsmDoc(
      Seq(RawNode(-1, 10, 10, Map.empty), RawNode(-2, 15, 15, Map.empty),
        RawNode(-3, 20, 20, Map.empty), RawNode(-4, 30, 30, Map.empty)),
      Seq(RawWay(-10, Seq(-1L, -2L), Map("name" -> "FooBar")),
        RawWay(-11, Seq(-3L, -4L), Map.empty)),
      Seq(RawRel(-20, Seq(("way", -11L, "")), Map("name" -> "BarTaz"))))
    val hw = AddressNames.highwaysFromOsm(doc)
    assert(hw.length === 2)
    val byName = hw.toMap
    assert(byName("FooBar").map(p => (p.x, p.y)) === Seq((10.0, 10.0), (15.0, 15.0)))
    assert(byName("BarTaz").map(p => (p.x, p.y)) === Seq((20.0, 20.0), (30.0, 30.0)))
  }

  test("placesFromOsm: node point, way line-centroid, relation vertex mean") {
    val doc = OsmDoc(
      Seq(RawNode(-1, 5, 5, Map("place" -> "village", "name" -> "P1")),
        RawNode(-2, 0, 0, Map.empty), RawNode(-3, 4, 0, Map.empty),
        RawNode(-4, 4, 2, Map.empty)),
      Seq(RawWay(-10, Seq(-2L, -3L, -4L), Map("place" -> "hamlet", "name" -> "P2")),
        RawWay(-11, Seq(-2L, -3L), Map.empty)),
      Seq(RawRel(-20, Seq(("way", -11L, "outer")), Map("place" -> "islet", "name" -> "P3"))))
    val got = AddressNames.placesFromOsm(doc).toMap
    assert(got("P1") === graft.geom.Pt(5, 5))
    // length-weighted line centroid: segments len 4 (mid 2,0) and 2 (mid 4,1)
    assert(math.abs(got("P2").x - (4 * 2 + 2 * 4) / 6.0) < 1e-12)
    assert(math.abs(got("P2").y - (4 * 0 + 2 * 1) / 6.0) < 1e-12)
    assert(got("P3") === graft.geom.Pt(2, 0)) // vertex mean of (0,0),(4,0)
  }
}
