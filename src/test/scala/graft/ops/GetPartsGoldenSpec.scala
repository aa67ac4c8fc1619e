package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Shapefile
import BuildingParts.ConsRow
import graft.RefFixtures

/** Replays test_get_parts (test_cons.py:208-226): the level-grouping laws
  * for ref 8840501CS5284S on the real exploded cons.shp block. */
class GetPartsGoldenSpec extends AnyFunSuite {

  def consRows: Seq[ConsRow] =
    Shapefile.read(RefFixtures.fixture("cons.shp")).flatMap { f =>
      val lid = f.attrs("localId")
      val kind =
        if (lid.contains("_part")) "part"
        else if (lid.contains("_PI.")) "pool"
        else "building"
      def i(k: String) = f.attrs.get(k).filter(_.nonEmpty)
        .flatMap(v => scala.util.Try(v.trim.toDouble.toInt).toOption).getOrElse(0)
      // explode_multi_parts first, like the reference test
      f.geometry.toSeq.map(poly =>
        ConsRow(lid, lid.split("_")(0).split("\\.").last, kind,
          i("lev_above"), i("lev_below"), i("layer"), "", Array(poly)))
    }

  test("reference golden: get_parts laws on ref 8840501CS5284S") {
    val rows = consRows
    val parts = rows.filter(r => r.localId.startsWith("8840501CS5284S_part"))
    val outlines = rows.filter(_.localId == "8840501CS5284S")
    assert(parts.nonEmpty && outlines.nonEmpty)
    for (outline <- outlines) {
      val inside = parts.filter(p => BuildingParts.isInside(p.geometry, outline.geometry))
      val (byLevel, maxL, minL) = BuildingParts.getParts(outline, parts)
      // law 1: the groups partition exactly the inside parts
      assert(inside.size === byLevel.values.map(_.size).sum)
      // law 2: each inside part is in its own (lev_above, lev_below) group
      for (p <- inside)
        assert(byLevel((p.levAbove, p.levBelow)).exists(_ eq p))
      // law 3: max levels match the direct maxima over the inside set
      assert(maxL === inside.map(_.levAbove).max)
      assert(minL === inside.map(_.levBelow).max)
    }
  }

  test("reference golden: merge_adjacent_parts single-level law on ref 8842323CS5284S") {
    // test_cons.py:228-258: for a single-level ref, merge deletes exactly
    // the parts of the (max, min) group and translates levels to the outline
    val rows = consRows
    val ref = "8842323CS5284S"
    val group = rows.filter(r => r.ref == ref)
    assert(group.nonEmpty)
    // the reference calls merge_adjacent_parts per OUTLINE; keep the outline
    // with the most inside parts and its parts (single-outline group)
    val parts = group.filter(_.kind == "part")
    val outline = group.filter(_.kind == "building")
      .maxBy(o => parts.count(p => BuildingParts.isInside(p.geometry, o.geometry)))
    val (byLevel, maxL, minL) = BuildingParts.getParts(outline, parts)
    import graft.TestSpark
    val spark = TestSpark.spark
    import spark.implicits._
    val indexed = (outline +: parts).zipWithIndex.map { case (r, i) =>
      r.copy(localId = s"${r.localId}#$i") }
    val out = BuildingParts.mergeBuildingParts(spark.createDataset(indexed)).collect()
    val outOutline = out.find(_.kind == "building").get
    assert(outOutline.levAbove === maxL && outOutline.levBelow === minL,
      "levels translate to the outline")
    if (byLevel.size == 1) {
      // single level: all inside parts merged to the outline (deleted)
      val remainingParts = out.filter(_.kind == "part")
      val insideCount = byLevel.values.map(_.size).sum
      assert(remainingParts.length === parts.length - insideCount)
    }
  }
}
