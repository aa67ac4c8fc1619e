package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.geom.{Geom, Pt, Utm}
import graft.sources.Shapefile
import graft.spatial.CellGrid
import Conflate.OsmPoly
import graft.RefFixtures

/** Replays the start of the reference's test_conflate
  * (test_cons.py:509-548): the real cons.shp block reprojected from UTM 28N
  * to WGS84 via the engine's own Transverse Mercator kernel; of the three
  * documented OSM ways only ref='3' conflicts. */
class ConflateGoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("UTM kernel round-trips within a millimeter over the fixture extent") {
    for ((x, y) <- Seq((358000.0, 3124000.0), (359000.0, 3125000.0), (357482.0, 3124110.0))) {
      val (lon, lat) = Utm.utmToWgs84(28, x, y)
      val (x2, y2) = Utm.wgs84ToUtm(28, lon, lat)
      assert(math.abs(x2 - x) < 1e-3 && math.abs(y2 - y) < 1e-3, s"($x,$y)->($x2,$y2)")
    }
  }

  test("reference golden: conflate marks exactly the documented OSM way") {
    import spark.implicits._
    val cons = Shapefile.read(RefFixtures.fixture("cons.shp"))
      .map(f => Utm.reproject(f.geometry, 28))
    def way(id: Long, ref: String, pts: Seq[(Double, Double)]) =
      OsmPoly(id, Map("building" -> "yes", "ref" -> ref),
        Array(Array(pts.dropRight(1).map { case (lon, lat) => Pt(lon, lat) }.toArray)))
    val ways = Seq( // test_cons.py:512-548 verbatim coordinates
      way(1, "1", Seq(
        (-16.44211325828, 28.23715394977), (-16.44208978895, 28.23714124855),
        (-16.44209884141, 28.23712884271), (-16.44212197546, 28.23714361157),
        (-16.44211325828, 28.23715394977))),
      way(2, "2", Seq(
        (-16.44016295806, 28.23657619128), (-16.43985450402, 28.23641077902),
        (-16.43991753593, 28.23632689127), (-16.44020855561, 28.23648403305),
        (-16.44016295806, 28.23657619128))),
      way(3, "3", Seq(
        (-16.44051231511, 28.23655551417), (-16.44042112, 28.23650529975),
        (-16.4405699826, 28.23631153095), (-16.44065782495, 28.23635288407),
        (-16.44051231511, 28.23655551417))))
    val grid = CellGrid(0.001, origin = -180.0, rowWidth = 1L << 31)
    val marked = Conflate.markConflicts(spark.createDataset(ways), cons, grid)
      .collect().map(p => p.tags("ref") -> p.tags.contains("conflict")).toMap
    assert(marked === Map("1" -> false, "2" -> false, "3" -> true))
  }

  test("reference golden: conflate(delete=True) tail with relations (14->12 ways, 2 rels)") {
    import spark.implicits._
    import Conflate.{OsmRelG, OsmWayG}
    val cons = Shapefile.read(RefFixtures.fixture("cons.shp"))
      .map(f => Utm.reproject(f.geometry, 28))
    def w(id: Long, ref: Option[String], pts: (Double, Double)*) =
      OsmWayG(id, ref.map(r => Map("building" -> "yes", "ref" -> r)).getOrElse(Map.empty),
        pts.map { case (lon, lat) => Pt(lon, lat) }.toArray)
    // test_cons.py:512-660 verbatim coordinates
    val ways = Seq(
      w(1, Some("1"), (-16.44211325828, 28.23715394977), (-16.44208978895, 28.23714124855),
        (-16.44209884141, 28.23712884271), (-16.44212197546, 28.23714361157),
        (-16.44211325828, 28.23715394977)),
      w(2, Some("2"), (-16.44016295806, 28.23657619128), (-16.43985450402, 28.23641077902),
        (-16.43991753593, 28.23632689127), (-16.44020855561, 28.23648403305),
        (-16.44016295806, 28.23657619128)),
      w(3, Some("3"), (-16.44051231511, 28.23655551417), (-16.44042112, 28.23650529975),
        (-16.4405699826, 28.23631153095), (-16.44065782495, 28.23635288407),
        (-16.44051231511, 28.23655551417)),
      w(4, Some("4"), (-16.44038491018, 28.23645095), (-16.44029706784, 28.23640132629),
        (-16.44042514332, 28.23624713819), (-16.44049689241, 28.23629558045),
        (-16.44038491018, 28.23645095)),
      // ref=5 is OPEN (4 points): not a candidate, must survive untouched
      w(5, Some("5"), (-16.44019514591, 28.23634461522), (-16.44002616674, 28.23625009376),
        (-16.44011199743, 28.23611540052), (-16.44027829438, 28.23619810692)),
      w(6, Some("6"), (-16.43993497163, 28.23591926797), (-16.43972575933, 28.23580584175),
        (-16.4398062256, 28.23610122228), (-16.43959701329, 28.23598543321),
        (-16.43993497163, 28.23591926797)),
      w(7, Some("7"), (-16.4386775, 28.2360472), (-16.4386158, 28.2363235),
        (-16.4384536, 28.2362954), (-16.4385153, 28.2360191), (-16.4386775, 28.2360472)),
      w(8, Some("8"), (-16.4386049, 28.2357006), (-16.4385316, 28.2356401),
        (-16.4385093, 28.2356419), (-16.4384993, 28.2357054), (-16.4386049, 28.2357006)),
      w(100, None, (-16.4409784, 28.2365733), (-16.4409231, 28.236542),
        (-16.4409179, 28.2365154), (-16.4409268, 28.236504), (-16.4408588, 28.236465)),
      w(101, None, (-16.4406755, 28.236688), (-16.4408332, 28.2367735)),
      w(102, None, (-16.4408332, 28.2367735), (-16.4408943, 28.2366893),
        (-16.4409395, 28.2367147), (-16.4409818, 28.2366563), (-16.4409366, 28.2366308),
        (-16.4409784, 28.2365733)),
      w(103, None, (-16.4408588, 28.236465), (-16.4408086, 28.2365319),
        (-16.4407037, 28.2364709), (-16.4406669, 28.2365102), (-16.4406513, 28.2365338),
        (-16.440639, 28.2365663), (-16.4407394, 28.2366223), (-16.4407188, 28.2366474),
        (-16.440707, 28.2366405), (-16.4406755, 28.236688)),
      w(104, None, (-16.440072, 28.236560), (-16.439966, 28.236505),
        (-16.439888, 28.236605), (-16.4399860, 28.236666), (-16.440072, 28.236560)),
      w(105, None, (-16.439965, 28.236703), (-16.439861, 28.236642),
        (-16.439805, 28.236733), (-16.439903, 28.236790), (-16.439965, 28.236703)))
    val rels = Seq(
      OsmRelG(9L, Map("building" -> "yes", "ref" -> "9"), Seq(100L, 101L, 102L, 103L)),
      OsmRelG(10L, Map("building" -> "yes", "ref" -> "10"), Seq(104L, 105L)))
    assert(ways.length === 14 && rels.length === 2)
    val grid = CellGrid(0.001, origin = -180.0, rowWidth = 1L << 31)
    // delete=True (the reference's documented tail): 2 non-conflicting
    // candidate ways removed, both relations conflicted and kept — the
    // golden rides the Dataset path directly (the Seq flavor is retired)
    val waysDs = spark.createDataset(ways).repartition(7)
    val relsDs = spark.createDataset(rels).repartition(3)
    val (dWays, dRels) = Conflate.conflateDocD(spark, waysDs, relsDs, cons, grid)
    val keptWays = dWays.collect()
    assert(keptWays.length === 12, s"ways: ${keptWays.map(_.id).toSeq}")
    assert(dRels.count() === 2)
    assert(keptWays.flatMap(_.tags.get("ref")).toSet === Set("3", "4", "5", "6", "7", "8"))
    // delete=False marks instead of deleting: everything survives, and
    // conflict=yes lands exactly on the conflicted CANDIDATES — closed
    // building ways the delete flavor kept (refs 3,4,7,8; 5 and 6 are
    // open polylines, never candidates, kept unmarked) and both relations
    val (dmWays, dmRels) = Conflate.conflateDocD(spark, waysDs, relsDs, cons, grid, delete = false)
    val mw = dmWays.collect()
    assert(mw.length === 14)
    assert(mw.filter(_.tags.contains("conflict")).flatMap(_.tags.get("ref")).toSet ===
      Set("3", "4", "7", "8"))
    val mr = dmRels.collect()
    assert(mr.length === 2 && mr.forall(_.tags.contains("conflict")))
  }
}
