package graft.pipeline

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Resume contract of the web-geo pipeline: fresh run computes all 6
  * stages and passes every conservation law; a rerun computes ZERO stages
  * with an identical report; a mid-DAG kill (deleted manifest) recomputes
  * exactly the missing stage. */
class GeoPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def report(r: GeoPipeline.Result): Seq[(Long, String, Long, Long)] = {
    import spark.implicits._
    r.report.as[(Long, String, Long, Long)].collect()
      .sortBy(t => (t._1, t._2)).toSeq
  }

  test("fresh run: 6 stages, laws hold, report nonempty; rerun: 0 stages, identical") {
    TestSpark.withTempDir("graft_geo") { tmp =>
      val dir = tmp.toString
      val cp1 = new CheckpointedPipeline(spark, dir)
      val r1 = GeoPipeline.run(spark, TestSpark.sf001, cp1, "v1")
      val rep1 = report(r1)
      assert(cp1.computedStages === 6, s"fresh run computed ${cp1.computedStages}")
      assert(r1.failedLaws === Seq.empty)
      assert(rep1.nonEmpty)
      assert(rep1.map(_._3).sum > 0)

      val cp2 = new CheckpointedPipeline(spark, dir)
      val r2 = GeoPipeline.run(spark, TestSpark.sf001, cp2, "v1")
      assert(cp2.computedStages === 0, s"rerun computed ${cp2.computedStages}")
      assert(r2.failedLaws === Seq.empty)
      assert(report(r2) === rep1)

      // mid-DAG kill: drop the geotag manifest — resume recomputes exactly it
      Files.delete(Paths.get(s"$dir/geotag.manifest.json"))
      val cp3 = new CheckpointedPipeline(spark, dir)
      val r3 = GeoPipeline.run(spark, TestSpark.sf001, cp3, "v1")
      assert(cp3.computedStages === 1, s"resume computed ${cp3.computedStages}")
      assert(r3.failedLaws === Seq.empty)
      assert(report(r3) === rep1)

      // version bump invalidates everything downstream of the fingerprint
      val cp4 = new CheckpointedPipeline(spark, dir)
      GeoPipeline.run(spark, TestSpark.sf001, cp4, "v2")
      assert(cp4.computedStages === 6, s"v2 recomputed ${cp4.computedStages}")
    }
  }

  test("canonical collapse does real work: 4 revisions per page, blocked hosts gone") {
    TestSpark.withTempDir("graft_geo2") { tmp =>
      import org.apache.spark.sql.functions._
      val dir = tmp.toString
      val cp = new CheckpointedPipeline(spark, dir)
      GeoPipeline.run(spark, TestSpark.sf001, cp, "v1")
      val canonical = spark.read.parquet(s"$dir/canonical.parquet")
      val nDocs = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet").count()
      // every surviving canonical url collapsed >= 1 and <= 4 revisions,
      // and the total surviving revisions + blocked ones == corpus
      val m = cp.metrics()
      assert(m(("canonical", "rows")) === canonical.count())
      val revs = canonical.agg(sum("n_revisions")).head().getLong(0)
      assert(revs < nDocs, "blocklist must drop some revisions")
      assert(canonical.filter(col("n_revisions") > 4).count() === 0)
      val hosts = canonical
        .select(graft.ops.UrlOps.hostOf(col("url_norm")).as("h"))
        .distinct().collect().map(_.getString(0)).toSet
      assert(hosts.intersect(graft.ops.UrlOps.BlockedHosts.toSet) === Set.empty)
    }
  }

  // ---- incremental-merge algebra --------------------------------------

  private def pagesOf(sfDir: String) = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sfDir/documents.parquet").select(
      col("doc_id"), col("lang"), col("n_chars"),
      graft.ops.UrlOps.normalize(graft.ops.UrlOps.messyUrl(
        expr("doc_id div 4"), col("doc_id"))).as("url_norm"))
      .filter(!graft.ops.UrlOps.hostOf(col("url_norm"))
        .isin(graft.ops.UrlOps.BlockedHosts: _*))
  }

  private def collectReport(df: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    df.select("region_id", "lang", "n_docs", "tot_chars")
      .as[(Long, String, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
  }

  test("incremental batch fold == full recompute, with live retractions") {
    import org.apache.spark.sql.functions._
    val pages = pagesOf(TestSpark.sf001)
    // a split DIFFERENT from q_geo_incr's, so the oracle and the spec
    // pin the algebra at two points
    val base = pages.filter(col("doc_id") % 5 =!= 2)
    val batch = pages.filter(col("doc_id") % 5 === 2)
    val baseCanon = GeoPipeline.canonPartial(base)
    val baseReport = GeoPipeline.reportOf(baseCanon)
    val incr = collectReport(
      GeoPipeline.incrementalReport(baseCanon, baseReport, batch))
    val full = collectReport(GeoPipeline.reportOf(GeoPipeline.canonPartial(pages)))
    assert(incr === full)
    graft.CacheBin.drain()

    // non-vacuity: the batch must CHANGE the survivor of >= 1 url (a
    // batch doc_id below the base minimum), so the -1 retraction path is
    // exercised, not just new-url inserts
    val batchCanon = GeoPipeline.canonPartial(batch)
    val changed = baseCanon.as("b")
      .join(batchCanon.as("n"), "url_norm")
      .filter(col("n.doc_id") < col("b.doc_id")).count()
    assert(changed > 0, "split never flips a survivor - retraction untested")

    // merged canonical state == full-recompute canonical state
    import spark.implicits._
    val mergedState = GeoPipeline.incrementalCanon(baseCanon, batch)
      .as[(String, Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    val fullState = GeoPipeline.canonPartial(pages)
      .as[(String, Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(mergedState === fullState)
  }

  test("versioned seed -> append: checkpointed state folds a crawl batch") {
    TestSpark.withTempDir("graft_geo_append") { tmp =>
      import org.apache.spark.sql.functions._
      val dir = tmp.toString
      val pages = pagesOf(TestSpark.sf001)
      val base = pages.filter(col("doc_id") % 5 =!= 2)
      val batch = pages.filter(col("doc_id") % 5 === 2)

      val cp = new CheckpointedPipeline(spark, dir)
      val r1 = GeoPipeline.seed(spark, cp, "v1", "crawl1", base)
      assert(cp.computedStages === 2)
      assert(r1.failedLaws === Seq.empty)

      val r2 = GeoPipeline.append(spark, cp, "v1", "v2", "crawl2", batch)
      assert(cp.computedStages === 4)
      assert(r2.failedLaws === Seq.empty)
      // the appended state equals the full recompute at both tables
      assert(collectReport(r2.report) ===
        collectReport(GeoPipeline.reportOf(GeoPipeline.canonPartial(pages))))
      import spark.implicits._
      val appended = spark.read.parquet(s"$dir/canon@v2.parquet")
        .drop("_lineage_partition")
        .as[(String, Long, String, Long, Long)].collect().sortBy(_._1).toSeq
      val full = GeoPipeline.canonPartial(pages)
        .as[(String, Long, String, Long, Long)].collect().sortBy(_._1).toSeq
      assert(appended === full)
      graft.CacheBin.drain()

      // retry with identical args: zero stages recomputed, same report;
      // v1 state is untouched (time travel to the pre-append rollup)
      val cp2 = new CheckpointedPipeline(spark, dir)
      val r3 = GeoPipeline.append(spark, cp2, "v1", "v2", "crawl2", batch)
      assert(cp2.computedStages === 0)
      assert(collectReport(r3.report) === collectReport(r2.report))
      assert(collectReport(spark.read.parquet(s"$dir/rollup@v1.parquet")
        .drop("_lineage_partition")) === collectReport(r1.report))
      graft.CacheBin.drain()
    }
  }

  test("streaming crawl-append: micro-batches fold exactly-once into versioned state") {
    TestSpark.withTempDir("graft_geo_stream") { root =>
      import org.apache.spark.sql.functions._
      val stateDir = Files.createDirectories(root.resolve("state")).toString
      val streamCp = Files.createDirectories(root.resolve("cp")).toString
      val inDir = Files.createDirectories(root.resolve("in"))

      val pages = pagesOf(TestSpark.sf001)
      val seedPages = pages.filter(col("doc_id") % 5 === 0)
      // one parquet FILE per future micro-batch (maxFilesPerTrigger=1)
      def writeBatchFile(k: Int): Unit = {
        val tmp = root.resolve(s"tmp$k").toString
        pages.filter(col("doc_id") % 5 === k)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, inDir.resolve(s"batch$k.parquet"))
      }
      (1 to 3).foreach(writeBatchFile)

      val cp = new CheckpointedPipeline(spark, stateDir)
      assert(GeoPipeline.seed(spark, cp, "seed", "crawl0", seedPages)
        .failedLaws === Seq.empty)

      def runStream(): Unit = {
        val stream = spark.readStream.schema(pages.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
        val q = GeoPipeline.appendStream(spark, cp, stream, "seed", streamCp)
        q.processAllAvailable(); q.stop(); q.awaitTermination()
      }
      runStream()
      // 3 files -> 3 micro-batches -> versions b0..b2, each 2 stages
      assert(cp.computedStages === 2 + 6,
        s"stream computed ${cp.computedStages} stages")
      def stateOf(ver: String) = {
        import spark.implicits._
        spark.read.parquet(s"$stateDir/canon@$ver.parquet")
          .drop("_lineage_partition")
          .as[(String, Long, String, Long, Long)].collect().sortBy(_._1).toSeq
      }
      def fullState(whole: org.apache.spark.sql.DataFrame) = {
        import spark.implicits._
        GeoPipeline.canonPartial(whole)
          .as[(String, Long, String, Long, Long)].collect().sortBy(_._1).toSeq
      }
      val after3 = pages.filter(col("doc_id") % 5 <= 3)
      assert(stateOf("b2") === fullState(after3))
      assert(collectReport(
        spark.read.parquet(s"$stateDir/rollup@b2.parquet").drop("_lineage_partition"))
        === collectReport(GeoPipeline.reportOf(GeoPipeline.canonPartial(after3))))

      // restart against the SAME stream checkpoint with no new files:
      // nothing replays, zero stages recomputed (exactly-once state)
      runStream()
      assert(cp.computedStages === 8, s"idle restart computed ${cp.computedStages}")

      // a late file after restart continues the version chain (b3)
      writeBatchFile(4)
      runStream()
      assert(cp.computedStages === 10)
      assert(stateOf("b3") === fullState(pages))
      graft.CacheBin.drain()
    }
  }

  test("incremental fold of an EMPTY batch is the identity") {
    import org.apache.spark.sql.functions._
    val pages = pagesOf(TestSpark.sf001)
    val baseCanon = GeoPipeline.canonPartial(pages)
    val baseReport = GeoPipeline.reportOf(baseCanon)
    val out = collectReport(GeoPipeline.incrementalReport(
      baseCanon, baseReport, pages.filter(lit(false))))
    assert(out === collectReport(baseReport))
    graft.CacheBin.drain()
  }
}
