package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.geom.Geom
import graft.sources.Wkb
import ParcelOps.ConsF

/** prepareDistributedOrdered (the zero-driver-Seq Dataset chain) must be
  * semantically identical to the golden-backed Seq chain on the reference's
  * own 722-feature municipality block. */
class ConsChainDistributedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val res = "src/test/resources/fixtures"

  def consRaw: Seq[ConsF] = Wkb.readTsv(s"$res/cons_gpkg.tsv").map { case (a, g) =>
    val lid = a("localId")
    def i(k: String) = a.get(k).filter(_.nonEmpty)
      .flatMap(v => scala.util.Try(v.toDouble.toInt).toOption).getOrElse(-1)
    ConsF(lid, ParcelOps.refOf(lid), ParcelOps.kindOf(lid),
      i("numberOfFloorsAboveGround"), i("numberOfFloorsBelowGround"), g)
  }

  private def canon(fs: Seq[ConsF]) = fs
    .map { f =>
      val rings = f.geometry.map(poly => poly.map(r =>
        BuildingParts.canonicalRing(r).map(p => (p.x, p.y)).toList).toList.sortBy(_.toString))
        .toList.sortBy(_.toString)
      (f.localId, f.kind, f.levAbove, f.levBelow,
        math.round(Geom.area(f.geometry) * 1e6), rings)
    }
    .sortBy(t => (t._1, t._6.toString))

  def ordered = consRaw.zipWithIndex.map { case (f, i) => ConsChain.FidCons(i.toLong, f) }

  test("prepareDistributedOrdered == Seq prepare on the 722-feature fixture") {
    import spark.implicits._
    val seqOut = ConsChain.prepare(spark, consRaw)
    val distOut = ConsChain.prepareDistributedOrdered(
      spark.createDataset(ordered)).collect().toSeq
    assert(distOut.length === seqOut.length,
      s"row counts: dist=${distOut.length} seq=${seqOut.length}")
    assert(canon(distOut) === canon(seqOut))
  }

  test("prepareDistributedOrdered is invariant under repartitioning") {
    import spark.implicits._
    val a = ConsChain.prepareDistributedOrdered(
      spark.createDataset(ordered)).collect().toSeq
    val b = ConsChain.prepareDistributedOrdered(
      spark.createDataset(ordered).repartition(17)).collect().toSeq
    assert(canon(a) === canon(b))
  }
}
