package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.RefFixtures

/** Replays the reference's ConsLayer.append source-mapping goldens
  * (test_cons.py:96-150) on its own building/buildingpart/othercons GML
  * fixtures, through the engine's from-scratch OGR-GML reader. */
class CadastreGmlSpec extends AnyFunSuite {

  test("test_append_building: condition mapping + localId (test_cons.py:96-110)") {
    val feats = CadastreGml.read(RefFixtures.fixture("building.gml"))
    assert(feats.nonEmpty)
    val first = feats.head
    val mapped = CadastreGml.toConsAttrs(first)
    assert(mapped("condition") === first.attrs("conditionOfConstruction"))
    assert(mapped("localId") === first.attrs("localId"))
    assert(first.attrs("conditionOfConstruction") === "functional")
    assert(first.attrs("localId") === "7541401CS5274S")
    assert(first.geometry.head.head.length >= 3)
  }

  test("test_append_buildingpart: lev_above mapping (test_cons.py:112-124)") {
    val feats = CadastreGml.read(RefFixtures.fixture("buildingpart.gml"))
    assert(feats.nonEmpty)
    val first = feats.head
    val mapped = CadastreGml.toConsAttrs(first)
    assert(mapped("lev_above") === first.attrs("numberOfFloorsAboveGround"))
    assert(mapped("localId") === first.attrs("localId"))
    assert(mapped("lev_above").nonEmpty)
  }

  test("test_append_othercons: nature mapping (test_cons.py:126-138)") {
    val feats = CadastreGml.read(RefFixtures.fixture("othercons.gml"))
    assert(feats.nonEmpty)
    val first = feats.head
    val mapped = CadastreGml.toConsAttrs(first)
    assert(mapped("nature") === first.attrs("constructionNature"))
    assert(mapped("localId") === first.attrs("localId"))
  }

  test("reference golden: test_simplify2 — chain keeps geometries GEOS-valid (test_cons.py:423-446)") {
    import graft.TestSpark
    import graft.ops.{ConsPrepare, ParcelOps}
    import graft.ops.ParcelOps.ConsF
    val spark = TestSpark.spark
    // the reference appends 38023.buildingpart.gml TWICE (as building and
    // as buildingpart layers) then runs the full chain
    val feats = CadastreGml.read(RefFixtures.fixture("38023.buildingpart.gml"))
    assert(feats.length === 24)
    def consOf(fs: Seq[CadastreGml.CadFeature], asPart: Boolean): Seq[ConsF] =
      fs.map { f =>
        val a = CadastreGml.toConsAttrs(f)
        val lid = a("localId") + (if (asPart) "" else "#b")
        def i(k: String) = a.get(k).filter(_.nonEmpty)
          .flatMap(v => scala.util.Try(v.toDouble.toInt).toOption).getOrElse(-1)
        ConsF(lid, ParcelOps.refOf(a("localId")), if (asPart) "part" else "building",
          i("lev_above"), i("lev_below"), f.geometry)
      }
    val cons = consOf(feats, asPart = false) ++ consOf(feats, asPart = true)
    assert(cons.length === 48) // featureCount doubles, like the reference
    val out = ConsPrepare(spark, cons)
    assert(out.nonEmpty)
    // every surviving ring is GEOS-valid (no self-intersection, >= 3 pts)
    for (f <- out; poly <- f.geometry; ring <- poly) {
      assert(ring.length >= 3, f.localId)
      assert(!graft.clean.DeleteInvalid.selfIntersects(ring), f.localId)
    }
  }

  test("test_append_cons: openAirPool features survive the combined append") {
    val all = CadastreGml.read(RefFixtures.fixture("building.gml")) ++
      CadastreGml.read(RefFixtures.fixture("buildingpart.gml")) ++
      CadastreGml.read(RefFixtures.fixture("othercons.gml"))
    val pools = all.filter(f =>
      CadastreGml.toConsAttrs(f)("nature") == "openAirPool")
    assert(pools.nonEmpty, "othercons carries openAirPool features")
    assert(pools.forall(_.geometry.nonEmpty))
  }
}
