package graft.pipeline

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class CheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("stages resume idempotently; changed fingerprint recomputes") {
    TestSpark.withTempDir("graft-ckpt") { tmp =>
      val root = tmp.toString
      val p1 = new CheckpointedPipeline(spark, root)
      val a1 = p1.stage("filtered", "fp-v1") {
        spark.read.parquet(s"${TestSpark.sf001}/orders.parquet")
          .filter(col("o_totalprice") > 100000)
      }
      val n1 = a1.count()
      assert(p1.computedStages === 1)

      // a fresh pipeline over the same root resumes without recomputing
      val p2 = new CheckpointedPipeline(spark, root)
      val a2 = p2.stage("filtered", "fp-v1") { fail("must not recompute"); null }
      assert(a2.count() === n1)
      assert(p2.computedStages === 0)

      // changed input fingerprint invalidates the stage
      val p3 = new CheckpointedPipeline(spark, root)
      p3.stage("filtered", "fp-v2") {
        spark.read.parquet(s"${TestSpark.sf001}/orders.parquet").limit(10)
      }
      assert(p3.computedStages === 1)
    }
  }

  test("metrics record per-stage rows + lineage partitions; laws validate") {
    TestSpark.withTempDir("graft-ckpt") { tmp =>
      val root = tmp.toString
      val p = new CheckpointedPipeline(spark, root)
      val src = p.stage("src", "v1") {
        spark.read.parquet(s"${TestSpark.sf001}/orders.parquet")
      }
      val kept = p.stage("kept", "v1") { src.filter(col("o_orderstatus") === "O") }
      p.addMetric("kept", "deleted", src.count() - kept.count())
      val fails = p.validate(Seq(
        "rows_conserved" -> (m =>
          m(("src", "rows")) === m(("kept", "rows")) + m(("kept", "deleted"))),
        "lineage_present" -> (m => m(("src", "source_partitions")) >= 1)))
      assert(fails.isEmpty)
      // a broken law is reported
      val bad = p.validate(Seq("impossible" -> (m => m(("src", "rows")) === -1L)))
      assert(bad === Seq("impossible"))
    }
  }
}
