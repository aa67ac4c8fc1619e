package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.geom.{Geom, Pt}
import graft.sources.{InspireGml, Shapefile}
import MoveAddress.{Addr, ConsFeature}
import graft.RefFixtures

/** Replays the reference's test_move_address golden
  * (test/geo/layer/test_cons.py:511-475): its own 14-address GML fixture
  * against its own cons.shp block — 7 addresses survive with the
  * documented spec classifications, and moved entrances land exactly on
  * their building outline. */
class MoveAddressGoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def consFeatures: Seq[ConsFeature] =
    Shapefile.read(RefFixtures.fixture("cons.shp")).map { f =>
      val lid = f.attrs("localId")
      ConsFeature(lid, lid.split("_")(0).split("\\.").last,
        graft.ops.ParcelOps.kindOf(lid), f.geometry)
    }

  test("reference golden: move_address survivors and classifications") {
    import spark.implicits._
    val ads = InspireGml.addresses(spark, RefFixtures.fixture("address.gml"))
      .select(col("localId"),
        element_at(split(col("localId"), "\\."), -1).as("ref"),
        col("spec"), col("x"), col("y"))
      .as[Addr]
    assert(ads.count() === 14) // test_cons.py:525
    val cons = spark.createDataset(consFeatures)
    val out = MoveAddress.moveAddressFull(ads, cons)
    val byId = out.collect().map(r =>
      r.getAs[String]("localId") ->
        (r.getAs[String]("spec"), Pt(r.getAs[Double]("x"), r.getAs[Double]("y")))).toMap
    assert(byId.size === 7, s"expected 7 survivors, got ${byId.keySet}") // :527
    val golden = Map( // test_cons.py:514-521
      "38.012.10.10.8643403CS5284S" -> "Entrance",
      "38.012.10.11.8842304CS5284S" -> "Entrance",
      "38.012.10.14.8643404CS5284S" -> "corner",
      "38.012.10.14.8643406CS5284S" -> "Parcel",
      "38.012.10.2.8642321CS5284S" -> "Entrance",
      "38.012.15.73.8544911CS5284S" -> "remote")
    for ((lid, expSpec) <- golden) {
      assert(byId.contains(lid), s"$lid should survive")
      assert(byId(lid)._1 === expSpec, s"$lid spec")
    }
    // moved entrances touch their building outline (distance 0 to a segment)
    val byLocal = consFeatures.map(f => f.localId -> f).toMap
    for ((lid, (spec, pt)) <- byId if spec == "Entrance") {
      val refcat = lid.split("\\.").last
      val (d2, _, _, _, _) = Geom.closestSegment(pt, byLocal(refcat).geometry)
      assert(d2 < 1e-12, s"$lid moved point should touch its building (d2=$d2)")
    }
  }
}

/** Replays the second move_address call of the reference test
  * (test_cons.py:473-475): with moved entrance vertices inserted into their
  * building rings, a re-run reclassifies them as 'corner' and the one with
  * multiple buildings is deleted — 7 survivors become 6. */
class MoveAddressSecondPassSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("reference golden: second pass drops exactly one address (7 -> 6)") {
    import spark.implicits._
    import MoveAddress.{Addr, ConsFeature}
    // the reference explodes multiparts first (test_cons.py:522):
    // a multipart building becomes several rows -> building_count > 1
    val cons = spark.createDataset(
      Shapefile.read(RefFixtures.fixture("cons.shp")).flatMap { f =>
        val lid = f.attrs("localId")
        f.geometry.toSeq.map(poly =>
          ConsFeature(lid, lid.split("_")(0).split("\\.").last,
            graft.ops.ParcelOps.kindOf(lid), Array(poly)))
      })
    val ads = InspireGml.addresses(spark, RefFixtures.fixture("address.gml"))
      .select(org.apache.spark.sql.functions.col("localId"),
        org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.col("localId"), "\\."), -1).as("ref"),
        org.apache.spark.sql.functions.col("spec"),
        org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("y"))
      .as[Addr]
    val (out1, cons2) = MoveAddress.moveAddressWithInsert(ads, cons)
    val survivors = out1.as[(String, String, String, Double, Double)].collect()
    assert(survivors.length === 7)
    val ads2 = spark.createDataset(survivors.toSeq.map(t => Addr(t._1, t._2, t._3, t._4, t._5)))
    val out2 = MoveAddress.moveAddressFull(ads2, cons2)
    assert(out2.count() === 6, s"second pass: ${out2.collect().mkString(";")}")
  }
}
