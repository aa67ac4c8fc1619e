package graft.pipeline

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.ops.{MoveAddress, ParcelOps}
import graft.ops.ParcelOps.{ConsF, Parcel}
import graft.sources.{InspireGml, Wkb}
import graft.RefFixtures

/** The reference's stop/resume lifecycle (app.py:581-624) on the REAL
  * 38012 fixtures, generalized to content-addressed stages: every runMulti
  * stage is a fingerprinted parquet table; a rerun reads manifests and
  * recomputes only missing/invalidated stages; a mid-DAG kill (simulated by
  * deleting the tail manifests) resumes exactly there with identical final
  * goldens. */
class CheckpointResumeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val res = "src/test/resources/fixtures"

  private def inputs() = {
    import spark.implicits._
    val parcels = Wkb.readTsv(s"$res/parcel.tsv").map { case (a, g) =>
      Parcel(a("localId"), null, 0, g)
    }
    val cons = Wkb.readTsv(s"$res/cons_gpkg.tsv").map { case (a, g) =>
      val lid = a("localId")
      def i(k: String) = a.get(k).filter(_.nonEmpty)
        .flatMap(v => scala.util.Try(v.toDouble.toInt).toOption).getOrElse(-1)
      ConsF(lid, ParcelOps.refOf(lid), ParcelOps.kindOf(lid),
        i("numberOfFloorsAboveGround"), i("numberOfFloorsBelowGround"), g)
    }
    val ads = InspireGml.addresses(spark, RefFixtures.fixture("address.gml"))
      .select(col("localId"),
        element_at(split(col("localId"), "\\."), -1).as("ref"),
        col("spec"), col("x"), col("y"))
      .as[MoveAddress.Addr]
      .map(a => AppRun.MunAddr("38012", a.localId, a.ref, a.spec, a.x, a.y))
    val consDs = spark.createDataset(cons.zipWithIndex.map { case (f, i) =>
      AppRun.MunSeqCons("38012", i.toLong, f) })
    val parcelsDs = spark.createDataset(parcels.zipWithIndex.map { case (p, i) =>
      ParcelOps.MunParcel("38012", i.toLong, p) })
    (consDs, parcelsDs, ads)
  }

  private def summarize(mr: AppRun.MultiResult) = (
    mr.metrics.toSet,
    mr.parcels.collect().map(p => (p.parcel.localId, p.parcel.parts)).sortBy(_._1).toSeq,
    mr.taskDocs.collect().map(d => (d.label, d.xml)).sortBy(_._1).toSeq)

  test("kill mid-DAG, rerun: manifest hits + identical final goldens") {
    TestSpark.withTempDir("graft_resume") { tmp =>
      val dir = tmp.toString
      val (cons, parcels, ads) = inputs()
      val munOf = (_: String) => "38012"

      val cp1 = new CheckpointedPipeline(spark, dir)
      val r1 = summarize(AppRun.runMulti(spark, cons, parcels, ads, munOf,
        checkpoint = Some((cp1, "fixture38012-v1"))))
      assert(cp1.computedStages === 14, s"expected 14 fresh stages, got ${cp1.computedStages}")

      // full rerun resumes every stage (zero recomputed), same goldens
      val cp2 = new CheckpointedPipeline(spark, dir)
      val r2 = summarize(AppRun.runMulti(spark, inputs()._1, parcels, ads, munOf,
        checkpoint = Some((cp2, "fixture38012-v1"))))
      assert(cp2.computedStages === 0, s"resume recomputed ${cp2.computedStages}")
      assert(r2 === r1)

      // simulate dying before the last two stages were checkpointed
      Files.delete(Paths.get(s"$dir/s12_taskmap.manifest.json"))
      Files.delete(Paths.get(s"$dir/s13_taskdocs.manifest.json"))
      val cp3 = new CheckpointedPipeline(spark, dir)
      val r3 = summarize(AppRun.runMulti(spark, inputs()._1, parcels, ads, munOf,
        checkpoint = Some((cp3, "fixture38012-v1"))))
      assert(cp3.computedStages === 2, s"tail resume recomputed ${cp3.computedStages}")
      assert(r3 === r1)

      // a changed input fingerprint invalidates everything
      val cp4 = new CheckpointedPipeline(spark, dir)
      AppRun.runMulti(spark, inputs()._1, parcels, ads, munOf,
        checkpoint = Some((cp4, "fixture38012-v2")))
      assert(cp4.computedStages === 14)
    }
  }

  test("checkpointed run equals the uncheckpointed run") {
    TestSpark.withTempDir("graft_resume2") { tmp =>
      val dir = tmp.toString
      val (cons, parcels, ads) = inputs()
      val munOf = (_: String) => "38012"
      val plain = summarize(AppRun.runMulti(spark, cons, parcels, ads, munOf))
      val cp = new CheckpointedPipeline(spark, dir)
      val ck = summarize(AppRun.runMulti(spark, inputs()._1, parcels, ads, munOf,
        checkpoint = Some((cp, "v1"))))
      assert(ck === plain)
    }
  }
}
