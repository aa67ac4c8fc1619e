package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.geom.Geom
import graft.sources.Shapefile
import BuildingParts.ConsRow
import graft.RefFixtures

/** Replays the reference's test_validate golden (test_cons.py:478-493):
  * after merge_building_parts on the real cons.shp block, the per-building
  * level histograms and the two documented area-fixme refs must match. */
class ValidateGoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def consRows: Seq[ConsRow] =
    Shapefile.read(RefFixtures.fixture("cons.shp")).map { f =>
      val lid = f.attrs("localId")
      val kind =
        if (lid.contains("_part")) "part"
        else if (lid.contains("_PI.")) "pool"
        else "building"
      def intOf(k: String) = f.attrs.get(k).filter(_.nonEmpty)
        .flatMap(v => scala.util.Try(v.trim.toDouble.toInt).toOption).getOrElse(0)
      ConsRow(lid, lid.split("_")(0).split("\\.").last, kind,
        intOf("lev_above"), intOf("lev_below"), intOf("layer"), "", f.geometry)
    }

  test("reference golden: level histograms + area fixmes after merge_building_parts") {
    import spark.implicits._
    val merged = BuildingParts.mergeBuildingParts(spark.createDataset(consRows))
      .collect()
    val buildings = merged.filter(_.kind == "building")
    val maxHist = buildings.filter(_.levAbove > 0)
      .groupBy(_.levAbove).view.mapValues(_.length).toMap
    val minHist = buildings.filter(_.levBelow > 0)
      .groupBy(_.levBelow).view.mapValues(_.length).toMap
    assert(maxHist === Map(1 -> 126, 2 -> 114, 3 -> 67, 4 -> 16, 5 -> 1),
      s"max_level histogram: $maxHist")
    assert(minHist === Map(1 -> 68, 2 -> 2), s"min_level histogram: $minHist")
    // validate() area fixmes (warning_min_area=1, warning_max_area=30000)
    val fixmes = buildings.filter { b =>
      val a = Geom.area(b.geometry)
      a < 1.0 || a > 30000.0
    }.map(_.localId).toSet
    assert(fixmes.contains("7239208CS5273N"), s"fixmes: $fixmes")
    assert(fixmes.contains("38012A00400007"), s"fixmes: $fixmes")
  }
}
