package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.geom.{Geom, Pt}
import graft.ops.{BuildingParts, ParcelOps}
import graft.RefFixtures

/** Replays the reference's ZoningLayer tests (test/geo/layer/test_zoning.py)
  * on its own zoning.gml fixture, read by the engine's from-scratch INSPIRE
  * CadastralZoning parser: the level-filtered append (check_zone law), the
  * three documented is_inside probes, and get_adjacents_and_geometries'
  * all-groups-are-real law. */
class ZoningGoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  def path: String = RefFixtures.fixture("zoning.gml")

  lazy val zones = InspireGml.cadastralZonings(path)
  lazy val urban = zones.filter(_._3 == "M")

  test("fixture loads: 241 zonings (the file's actual member count), urban/rustic partition") {
    // the fixture header says numberReturned=271 but the file carries 241
    // cp:CadastralZoning members — the count below is the real content
    assert(zones.length === 241)
    val rustic = zones.filter(_._3 == "P")
    assert(urban.nonEmpty && rustic.nonEmpty)
    assert(urban.length + rustic.length === zones.length,
      "every zone is urban MANZANA or rustic POLIGONO")
    // check_zone law (test_append): appended features all match their level
    assert(urban.forall(_._3 == "M") && rustic.forall(_._3 == "P"))
    // geometry sanity: every zone parsed at least one ring with >= 3 points
    assert(zones.forall(_._4.forall(_.forall(_.length >= 3))))
  }

  test("reference golden: is_inside full / part / false (test_zoning.py:58-111)") {
    def isInsideLayer(tri: Array[Pt]): Boolean =
      urban.exists(z => BuildingParts.isInside(Array(Array(tri)), z._4))
    val full = Array(Pt(357275.888, 3123959.765), Pt(357276.418, 3123950.625),
      Pt(357286.220, 3123957.911))
    val part = Array(Pt(357270.987, 3123924.266), Pt(357282.643, 3123936.187),
      Pt(357283.703, 3123920.822))
    val outside = Array(Pt(357228.335, 3123901.881), Pt(357231.779, 3123922.677),
      Pt(357245.555, 3123897.377))
    assert(isInsideLayer(full), "fully-contained triangle")
    assert(isInsideLayer(part), "partially-overlapping triangle")
    assert(!isInsideLayer(outside), "outside triangle")
  }

  test("export_poly writes the reference's exact Osmosis-poly layout") {
    val mun: Array[Array[Array[Pt]]] = Array(
      Array(
        Array(Pt(0, 0), Pt(4, 0), Pt(4, 4), Pt(0, 4)),      // outer -> '1'
        Array(Pt(1, 1), Pt(2, 1), Pt(2, 2))),               // hole  -> '!2'
      Array(Array(Pt(10, 10), Pt(11, 10), Pt(11, 11))))     // part2 -> '3'
    val out = CsvGeoJson.exportPoly(mun)
    val lines = out.split("\n").toSeq
    assert(lines.head === "admin_boundary")
    assert(lines(1) === "1")
    assert(lines(2) === "0.000000 0.000000") // the reference's '%f %f'
    assert(lines.contains("!2"), "hole ring gets the '!' prefix")
    assert(lines.contains("3"), "second part continues the numbering")
    assert(!lines.contains("END"), "the reference writes no END terminators")
  }

  test("reference golden: get_adjacents groups are all real (len > 1)") {
    // shared-full-segment adjacency (polygon.py:134-159): canonical segment
    // owned by >= 2 urban zones -> adjacency set; merge transitively
    val segOwners = scala.collection.mutable.Map[(Pt, Pt), Set[String]]()
    for ((lid, _, _, mp) <- urban; poly <- mp; ring <- poly; i <- ring.indices) {
      val a = ring(i); val b = ring((i + 1) % ring.length)
      val key = if (a.x < b.x || (a.x == b.x && a.y <= b.y)) (a, b) else (b, a)
      segOwners(key) = segOwners.getOrElse(key, Set.empty) + lid
    }
    val adjs = segOwners.values.filter(_.size > 1).toSeq
    assert(adjs.nonEmpty, "the fixture has wall-sharing urban zones")
    val groups = ParcelOps.mergeGroups(adjs)
    assert(groups.nonEmpty)
    assert(groups.forall(_.size > 1), s"group sizes: ${groups.map(_.size)}")
  }
}
