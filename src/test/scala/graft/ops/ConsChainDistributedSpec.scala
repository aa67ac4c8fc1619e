package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.geom.Geom
import ParcelOps.ConsF

/** The distributed cons chain (runMulti's stages s01–s07) must not depend
  * on how its input is partitioned: the reference's own 722-feature
  * municipality block gives the same features either way. */
class ConsChainDistributedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def canon(fs: Seq[ConsF]) = fs
    .map { f =>
      val rings = f.geometry.map(poly => poly.map(r =>
        BuildingParts.canonicalRing(r).map(p => (p.x, p.y)).toList).toList.sortBy(_.toString))
        .toList.sortBy(_.toString)
      (f.localId, f.kind, f.levAbove, f.levBelow,
        math.round(Geom.area(f.geometry) * 1e6), rings)
    }
    .sortBy(t => (t._1, t._6.toString))

  def ordered = ConsPrepare.ordered(ConsPrepare.fixture)

  test("prepareDistributedOrdered is invariant under repartitioning") {
    import spark.implicits._
    val a = ConsPrepare.prepareDistributedOrdered(
      spark.createDataset(ordered))
    val b = ConsPrepare.prepareDistributedOrdered(
      spark.createDataset(ordered).repartition(17))
    assert(canon(a) === canon(b))
  }
}
