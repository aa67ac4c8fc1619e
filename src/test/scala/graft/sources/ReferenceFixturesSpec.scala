package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.clean.{Feature, Simplify, Topology}
import graft.geom.{Geom, Pt}
import graft.RefFixtures

/** Replays golden values of the REFERENCE'S OWN test suite on its own
  * fixture data (test/fixtures/cons.shp — a real cadastre block, 1196
  * features), loaded through our from-scratch Shapefile reader.
  * Reference tests replayed: test/geo/layer/test_cons.py:272-287
  * (test_add_topological_points) and :62-68 (test_merge_adjacent_features).
  */
class ReferenceFixturesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val features = Shapefile.read(RefFixtures.fixture("cons.shp"))

  test("shapefile loads the full cons fixture with attributes") {
    assert(features.length === 1196)
    assert(features.forall(_.attrs.contains("localId")))
    assert(features.exists(_.attrs("localId") == "8942328CS5284S"))
    // geometry sanity: areas positive, coordinates in the fixture's UTM range
    val areas = features.map(f => Geom.area(f.geometry))
    assert(areas.count(_ > 0) > 1100)
    val b = Geom.bbox(features.head.geometry)
    assert(b.xmin > 300000 && b.ymin > 3000000)
  }

  test("reference golden: topology() inserts the documented topological points") {
    import spark.implicits._
    // golden tuples from test_cons.py:272-287: (localId, point, polygon part)
    val golden = Seq(
      ("8842708CS5284S", Pt(358821.08, 3124205.68), 0),
      ("8842708CS5284S_part1", Pt(358821.08, 3124205.68), 0),
      ("8942328CS5284S", Pt(358857.04, 3124248.6705), 1),
      ("8942328CS5284S_part3", Pt(358857.04, 3124248.6705), 0))
    val byLocal = features.map(f => f.attrs("localId") -> f).toMap
    // precondition: the points are absent before topology
    for ((lid, p, part) <- golden)
      assert(!byLocal(lid).geometry(part).head.contains(p), s"$lid pre")
    // outer ring of every polygon part as one Feature (fid = feature*16+part),
    // skipping sub-min_area parts exactly like the reference (polygon.py:176)
    val parts = features.flatMap { f =>
      f.geometry.zipWithIndex.collect {
        case (poly, pi) if Geom.area(f.geometry) >= Geom.MinArea =>
          Feature(f.fid.toLong * 16 + pi, poly.head)
      }
    }
    val repaired = Topology.repair(spark.createDataset(parts))
      .collect().map(f => f.fid -> f.ring).toMap
    for ((lid, p, part) <- golden) {
      val fid = byLocal(lid).fid.toLong * 16 + part
      assert(repaired(fid).contains(p), s"$lid part $part should gain $p")
    }
  }

  test("reference golden: merging 8840501CS5284S parts preserves area, reduces parts") {
    val parts = features.filter(_.attrs("localId").startsWith("8840501CS5284S_part"))
    assert(parts.nonEmpty)
    // normalize: outers CCW, holes CW (shapefile stores the opposite), so
    // the signed sum of union rings equals the hole-aware total area
    val rings = parts.flatMap(_.geometry.toSeq.flatMap(poly => poly.toSeq.map(_.reverse)))
    val sumArea = parts.map(f => Geom.area(f.geometry)).sum
    // union via the same edge-cancellation kernel as GeomUnionAgg
    val agg = new graft.ops.GeomUnionAgg
    val buf = rings.foldLeft(agg.zero)((b, r) => agg.reduce(b, r))
    val union = agg.finish(buf)
    val unionArea = union.map(Geom.signedArea).sum // holes negative
    assert(math.abs(unionArea - sumArea) < 1e-4,
      s"union $unionArea vs sum $sumArea") // area preserved (test_cons.py:66)
    assert(union.count(r => Geom.signedArea(r) > 0) < parts.length,
      "adjacent parts must merge") // test_cons.py:68
  }
}

/** Replays test_simplify1 (test_cons.py:404-418): after explode + simplify
  * on cons.shp, the two documented vertices of 8643326CS5284S survive
  * (each is a corner in at least one parent) while 8643324CS5284S's
  * shared near-straight vertex is deleted from every parent. */
class ReferenceSimplifySpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  test("reference golden: simplify vertex removals on cons.shp") {
    import spark.implicits._
    val features = Shapefile.read(RefFixtures.fixture("cons.shp"))
    // explode_multi_parts: every polygon part becomes one feature; rings
    // (outer + holes) become Feature rows sharing the part id space
    val parts = features.flatMap { f =>
      f.geometry.toSeq.zipWithIndex.flatMap { case (poly, pi) =>
        poly.toSeq.zipWithIndex.map { case (ring, ri) =>
          Feature(f.fid.toLong * 64 + pi * 8 + ri, ring)
        }
      }
    }
    val simplified = Simplify.simplifyShared(spark.createDataset(parts))
      .collect().map(f => f.fid -> f.ring).toMap
    val byLocal = features.map(f => f.attrs("localId") -> f).toMap
    def ringsOf(lid: String): Seq[Seq[Pt]] = {
      val f = byLocal(lid)
      f.geometry.indices.flatMap(pi =>
        f.geometry(pi).indices.map(ri => simplified(f.fid.toLong * 64 + pi * 8 + ri).toSeq))
    }
    // golden (test_cons.py:406-410, ref[2]=True means STILL PRESENT):
    // both vertices are corners in at least one parent -> survive
    assert(ringsOf("8643326CS5284S").exists(_.contains(Pt(358684.62, 3124377.54))))
    assert(ringsOf("8643326CS5284S").exists(_.contains(Pt(358686.29, 3124376.11))))
    // non-corner in every parent -> deleted everywhere
    assert(!ringsOf("8643324CS5284S").exists(_.contains(Pt(358677.29, 3124366.64))))
  }
}

/** Replays test_explode_multi_parts (test_cons.py:58-93): exploding all
  * features EXCEPT those whose ref has an address leaves exactly the
  * addressed multipart features intact. */
class ReferenceExplodeSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  test("reference golden: address-protected explode keeps exactly the addressed multiparts") {
    import org.apache.spark.sql.functions._
    val features = Shapefile.read(RefFixtures.fixture("cons.shp"))
    val refs = InspireGml.addresses(spark, RefFixtures.fixture("address.gml"))
      .select(element_at(split(col("localId"), "\\."), -1))
      .collect().map(_.getString(0)).toSet
    val mp0 = features.count(_.geometry.length > 1)
    assert(mp0 > 0)
    val mp1 = features.count(f => refs.contains(f.attrs("localId")) && f.geometry.length > 1)
    assert(mp1 > 0)
    // explode everything whose localId is NOT an addressed ref
    val exploded = features.flatMap { f =>
      if (refs.contains(f.attrs("localId"))) Seq(f.geometry)
      else graft.clean.PolygonClean.explodeParts(f.geometry)
    }
    val mp2 = exploded.count(_.length > 1)
    assert(mp2 === mp1, s"after explode: $mp2 multiparts vs addressed $mp1")
  }
}
