package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.sources.Wkb
import ConsChain.FidCons
import ParcelOps.ConsF

/** The cons-preparation chain exactly as `AppRun.runMulti` runs it: the
  * seven distributed stages in its order (s01–s07), each materialized by
  * an eager localCheckpoint like runMulti's stage boundaries. The
  * reference goldens replay through it, so they check the chain the
  * pipeline runs. */
object ConsPrepare {
  private val stages: Seq[Dataset[FidCons] => Dataset[FidCons]] = Seq(
    ConsChain.removeOutsidePartsD, ConsChain.explodeD, ConsChain.deleteInvalidD,
    ConsChain.topologyD, ConsChain.mergePartsD, ConsChain.simplifyD,
    ConsChain.deleteSmallD)

  /** Runs the chain over rows already numbered by `fid`; returns the
    * surviving features sorted by fid. */
  def prepareDistributedOrdered(ordered: Dataset[FidCons]): Seq[ConsF] = {
    val out = stages.foldLeft(ordered)((ds, stage) => stage(ds).localCheckpoint())
      .collect().sortBy(_.fid).map(_.f).toSeq
    graft.CacheBin.drain()
    out
  }

  /** fid = position in `cons` (the layer order the reference iterates). */
  def ordered(cons: Seq[ConsF]): Seq[FidCons] =
    cons.zipWithIndex.map { case (f, i) => FidCons(i.toLong, f) }

  def apply(spark: SparkSession, cons: Seq[ConsF]): Seq[ConsF] = {
    import spark.implicits._
    prepareDistributedOrdered(spark.createDataset(ordered(cons)))
  }

  /** The reference's 722-feature cons.gpkg block (WKB TSV fixture), levels
    * -1 for NULL. */
  def fixture: Seq[ConsF] =
    Wkb.readTsv("src/test/resources/fixtures/cons_gpkg.tsv").map { case (a, g) =>
      val lid = a("localId")
      def i(k: String) = a.get(k).filter(_.nonEmpty)
        .flatMap(v => scala.util.Try(v.toDouble.toInt).toOption).getOrElse(-1)
      ConsF(lid, ParcelOps.refOf(lid), ParcelOps.kindOf(lid),
        i("numberOfFloorsAboveGround"), i("numberOfFloorsBelowGround"), g)
    }
}
