package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Pages
import graft.spatial.{S2Grid, SynthGeo}

/** The WEB-side operational pipeline of the north rule, checkpointed:
  * Common-Crawl-shaped pages → URL canonicalization + host blocklist +
  * revision collapse → per-page geotag + S2 encode → tile-assignment
  * rollup → admin-boundary join → per-(region, lang) report. Every stage
  * is a fingerprinted parquet table with per-partition lineage
  * (CheckpointedPipeline), so a spark-submit retry resumes at the first
  * missing/invalidated stage and recomputes nothing else — the same
  * resume contract RunPipeline proves for the cadastre side, here on the
  * input_hint table shape (url, warc_ts, html, text, lang).
  *
  * Conservation laws (report.validate analog, reference report.py:299-379)
  * ride the metrics table:
  *  - extract_match == pages rows: `text` is byte-identical to the
  *    deterministic extraction of `html` for EVERY page (the input_hint
  *    per-row invariant — a lossy re-encode anywhere upstream fails the
  *    law, not just a spot check);
  *  - tile_points == geotag rows: the tile rollup conserves pages;
  *  - report_docs == regions rows: the final rollup conserves matches.
  */
object GeoPipeline {

  final case class Result(report: DataFrame, failedLaws: Seq[String])

  def run(spark: SparkSession, sfDir: String, cp: CheckpointedPipeline,
      ver: String): Result = {
    val fp = s"$ver:$sfDir"

    // 1. pages at the input_hint shape; messy-url synthesis gives the
    // canonicalize stage real 4:1 work (page identity = doc_id div 4)
    var before = cp.computedStages
    val pages = cp.stage("pages", fp) {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(
          col("doc_id"),
          graft.ops.UrlOps.messyUrl(expr("doc_id div 4"), col("doc_id")).as("url"),
          // epoch 2024-01-01 + jitter: strictly increasing within a
          // canonical group, so the revision collapse has a unique newest
          timestamp_seconds(lit(1704067200L) + col("doc_id") % 1000L).as("warc_ts"),
          encode(concat(lit("<html><head><title>"), col("lang"),
            lit("</title></head><body><p>"), col("text"),
            lit("</p></body></html>")), "utf-8").as("html"),
          col("text"), col("lang"))
    }
    // per-row invariant law: extraction of html is byte-identical to text.
    // Metrics are computed only when the stage actually ran — a resume
    // must not re-scan the corpus (laws read the persisted metrics table).
    if (cp.computedStages > before) cp.addMetric("pages", "extract_match",
      pages.filter(Pages.extractText(col("html")) === col("text")).count())

    // 2. canonicalize + blocklist + collapse (newest revision per
    // canonical url, min doc_id as the stable survivor identity)
    val canonical = cp.stage("canonical", s"$fp:canonical") {
      pages
        .withColumn("url_norm", graft.ops.UrlOps.normalize(col("url")))
        .filter(!graft.ops.UrlOps.hostOf(col("url_norm"))
          .isin(graft.ops.UrlOps.BlockedHosts: _*))
        .groupBy("url_norm")
        .agg(min("doc_id").as("doc_id"), max("warc_ts").as("warc_ts"),
          min_by(col("lang"), col("doc_id")).as("lang"),
          min_by(length(col("text")), col("doc_id")).as("n_chars"),
          count(lit(1)).as("n_revisions"))
    }

    // 3. geotag + spherical encode (level 13, tile = level-6 parent)
    val geotag = cp.stage("geotag", s"$fp:geotag") {
      canonical.select(
        col("doc_id"), col("url_norm"), col("lang"), col("n_chars"),
        SynthGeo.latColOf(col("doc_id")).as("lat"),
        SynthGeo.lonColOf(col("doc_id")).as("lon"))
        .withColumn("cell13", S2Grid.cellCol(col("lat"), col("lon"), 13))
        .withColumn("cell6", S2Grid.parentCol(col("cell13"), 13, 6))
    }

    // 4. tile assignment rollup (exchange width = occupied tiles)
    before = cp.computedStages
    val tiles = cp.stage("tiles", s"$fp:tiles") {
      geotag.groupBy("cell6").agg(count(lit(1)).as("n_pages"))
    }
    if (cp.computedStages > before) cp.addMetric("tiles", "tile_points",
      tiles.agg(coalesce(sum("n_pages"), lit(0L))).head().getLong(0))

    // 5. admin-boundary join: broadcast cover probe + exact refinement
    val regions = cp.stage("regions", s"$fp:regions") {
      geotag.join(broadcast(S2Grid.regionSide(spark, 6)), col("cell6") === col("cell"))
        .where(abs(col("lat") - col("clat")) + abs(col("lon") - col("clon")) < col("rr"))
        .select(col("doc_id"), col("region_id"), col("lang"), col("n_chars"))
    }

    // 6. per-(region, lang) report
    before = cp.computedStages
    val report = cp.stage("report", s"$fp:report") {
      regions.groupBy("region_id", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("tot_chars"))
    }
    if (cp.computedStages > before) cp.addMetric("report", "report_docs",
      report.agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0))

    val fails = cp.validate(Seq(
      ("extract_byte_identical", m =>
        m(("pages", "extract_match")) == m(("pages", "rows"))),
      ("tiles_conserve_pages", m =>
        m(("tiles", "tile_points")) == m(("geotag", "rows"))),
      ("report_conserves_matches", m =>
        m(("report", "report_docs")) == m(("regions", "rows")))))
    Result(report, fails)
  }

  // ------------------------------------------------------------------
  // Incremental-merge algebra: append a new crawl batch to an existing
  // pipeline state WITHOUT rescanning the corpus. The canonical per-url
  // aggregate is chosen to be MERGEABLE (doc identity = min doc_id,
  // survivor attributes ride min_by on it, revision count sums), so base
  // state and batch partials re-aggregate into the exact full-recompute
  // canonical row. Downstream aggregates update by RETRACTION: the
  // affected urls' old contributions enter the report with weight -1 and
  // their merged contributions with weight +1, so the final re-agg is
  // counts-sized. Exchange budget per batch at 10^12-doc corpus scale:
  //   batch-sized   — batch canonical partial agg
  //   scan, 0 shuffle — corpus ⟕ batch-url semi probe (broadcast; on a
  //                     url-bucketed state table it prunes to buckets)
  //   affected-sized — merge re-agg + the ±1 contribution join
  //   counts-sized  — final report re-agg
  // The corpus itself is never shuffled and never re-aggregated.
  // Oracle-gated as q_geo_incr: base+incremental must hash-equal the
  // full-recompute SQL over base ∪ batch.
  // ------------------------------------------------------------------

  /** Mergeable per-url canonical aggregate over any page subset
    * (doc_id, lang, n_chars, url_norm — blocklist already applied). */
  def canonPartial(pages: DataFrame): DataFrame =
    pages.groupBy("url_norm").agg(
      min("doc_id").as("doc_id"),
      min_by(col("lang"), col("doc_id")).as("lang"),
      min_by(col("n_chars"), col("doc_id")).as("n_chars"),
      count(lit(1)).as("n_revisions"))

  /** Merge canonical partials (base state rows ∪ batch partial rows) —
    * same row out as canonPartial over the union of the raw pages. */
  def mergeCanon(partials: DataFrame): DataFrame =
    partials.groupBy("url_norm").agg(
      min("doc_id").as("doc_id"),
      min_by(col("lang"), col("doc_id")).as("lang"),
      min_by(col("n_chars"), col("doc_id")).as("n_chars"),
      sum("n_revisions").as("n_revisions"))

  /** (region_id, lang, n_chars) contribution of each canonical row:
    * geotag from the survivor doc_id, S2 encode, broadcast cover probe,
    * exact L1 refinement — the same join shape as the batch pipeline. */
  def regionContrib(canon: DataFrame, level: Int = 6): DataFrame =
    canon
      .withColumn("lat", SynthGeo.latColOf(col("doc_id")))
      .withColumn("lon", SynthGeo.lonColOf(col("doc_id")))
      .withColumn("cell", S2Grid.cellCol(col("lat"), col("lon"), level))
      .join(broadcast(S2Grid.regionSide(canon.sparkSession, level)), "cell")
      .where(abs(col("lat") - col("clat")) + abs(col("lon") - col("clon")) < col("rr"))
      .select(col("region_id"), col("lang"), col("n_chars"))

  /** Full per-(region, lang) report of a canonical table. */
  def reportOf(canon: DataFrame): DataFrame =
    regionContrib(canon).groupBy("region_id", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("tot_chars"))

  /** Fold a new batch into (baseCanon, baseReport): returns the report of
    * canonPartial(basePages ∪ batchPages) without touching base pages.
    * batchPages carries (doc_id, lang, n_chars, url_norm), blocklisted. */
  def incrementalReport(baseCanon: DataFrame, baseReport: DataFrame,
      batchPages: DataFrame): DataFrame = {
    val batchCanon = graft.CacheBin.persist(canonPartial(batchPages))
    // affected = base urls the batch touches; at scale baseCanon is the
    // stored state table and this is a broadcast semi probe over it
    val oldAffected = graft.CacheBin.persist(
      baseCanon.join(batchCanon.select("url_norm"), Seq("url_norm"), "left_semi"))
    val newAffected = mergeCanon(oldAffected.unionByName(batchCanon))
    val delta = regionContrib(newAffected).withColumn("w", lit(1L))
      .unionByName(regionContrib(oldAffected).withColumn("w", lit(-1L)))
      .groupBy("region_id", "lang")
      .agg(sum("w").as("n_docs"), sum(col("w") * col("n_chars")).as("tot_chars"))
    baseReport.select(col("region_id"), col("lang"), col("n_docs"), col("tot_chars"))
      .unionByName(delta)
      .groupBy("region_id", "lang")
      .agg(sum("n_docs").as("n_docs"), sum("tot_chars").as("tot_chars"))
      .filter(col("n_docs") > 0)
  }

  /** Merged canonical state after a batch (the new stored state table):
    * untouched base rows pass through, affected urls re-merge. */
  def incrementalCanon(baseCanon: DataFrame, batchPages: DataFrame): DataFrame = {
    val batchCanon = canonPartial(batchPages)
    val untouched = baseCanon.join(
      batchCanon.select("url_norm"), Seq("url_norm"), "left_anti")
    val merged = mergeCanon(
      baseCanon.join(batchCanon.select("url_norm"), Seq("url_norm"), "left_semi")
        .unionByName(batchCanon))
    untouched.unionByName(merged)
  }

  /** Checkpointed crawl-append: fold `batchPages` (doc_id, lang, n_chars,
    * url_norm — blocklisted) into the state a previous run/append left at
    * version `fromVer`, writing `canon@toVer` and `rollup@toVer` stages.
    * Same resume contract as run(): a retry with identical args recomputes
    * only missing stages; the batch fingerprint rides the stage key so a
    * DIFFERENT batch at the same version invalidates cleanly. Conservation
    * law: the new rollup's doc count must equal the new state's region
    * matches (recomputed counts-sized, not trusted from the delta). */
  def append(spark: SparkSession, cp: CheckpointedPipeline, fromVer: String,
      toVer: String, batchFp: String, batchPages: DataFrame): Result = {
    val baseCanon = spark.read.parquet(s"${cp.root}/canon@$fromVer.parquet")
      .drop("_lineage_partition")
    val baseReport = spark.read.parquet(s"${cp.root}/rollup@$fromVer.parquet")
      .drop("_lineage_partition")
    val newCanon = cp.stage(s"canon@$toVer", s"$fromVer:$batchFp") {
      incrementalCanon(baseCanon, batchPages)
    }
    var before = cp.computedStages
    val newReport = cp.stage(s"rollup@$toVer", s"$fromVer:$batchFp:rollup") {
      incrementalReport(baseCanon, baseReport, batchPages)
    }
    if (cp.computedStages > before) {
      cp.addMetric(s"rollup@$toVer", "report_docs",
        newReport.agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0))
      cp.addMetric(s"canon@$toVer", "region_matches",
        regionContrib(newCanon).count())
    }
    val fails = cp.validate(Seq(
      (s"rollup@$toVer conserves state matches", m =>
        m((s"rollup@$toVer", "report_docs")) == m((s"canon@$toVer", "region_matches")))))
    Result(newReport, fails)
  }

  /** Seed the versioned state from a full corpus pass (the first crawl). */
  def seed(spark: SparkSession, cp: CheckpointedPipeline, ver: String,
      corpusFp: String, pages: DataFrame): Result = {
    val canon = cp.stage(s"canon@$ver", corpusFp) { canonPartial(pages) }
    var before = cp.computedStages
    val report = cp.stage(s"rollup@$ver", s"$corpusFp:rollup") { reportOf(canon) }
    if (cp.computedStages > before) {
      cp.addMetric(s"rollup@$ver", "report_docs",
        report.agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0))
      cp.addMetric(s"canon@$ver", "region_matches", regionContrib(canon).count())
    }
    val fails = cp.validate(Seq(
      (s"rollup@$ver conserves state matches", m =>
        m((s"rollup@$ver", "report_docs")) == m((s"canon@$ver", "region_matches")))))
    Result(report, fails)
  }

  /** Streaming crawl-append: every micro-batch of a pages STREAM
    * (doc_id, lang, n_chars, url_norm — blocklisted) folds into the
    * versioned checkpoint state via [[append]] inside foreachBatch, one
    * state version `b<batchId>` per trigger, chained off `seedVer` (the
    * state [[seed]] left behind). Exactly-once state effects without an
    * idempotent-sink primitive: Structured Streaming replays an
    * uncommitted batch after a crash with the SAME batchId, the stage
    * fingerprint carries that batchId, so the replay finds its
    * `canon@b<N>`/`rollup@b<N>` manifests and recomputes zero stages —
    * at-least-once invocation collapses to exactly-once state, and a
    * crash BETWEEN the two stage writes resumes at exactly the missing
    * one. The 10^12-doc exchange budget is inherited from [[append]]:
    * per trigger the prior state pays one probe scan and every exchange
    * is batch-/affected-/counts-sized, so steady-state ingest cost is
    * independent of corpus size. */
  def appendStream(spark: SparkSession, cp: CheckpointedPipeline,
      pagesStream: DataFrame, seedVer: String, streamCpDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val fold = (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        batchId: Long) => {
      val fromVer = if (batchId == 0L) seedVer else s"b${batchId - 1}"
      append(spark, cp, fromVer, s"b$batchId", s"stream:$batchId", batch.toDF())
      // stage parquets are written; persisted micro-batch intermediates
      // (batch canon, affected rows) are dead past this point
      graft.CacheBin.drain()
      ()
    }
    pagesStream.writeStream
      .option("checkpointLocation", streamCpDir)
      .foreachBatch(fold)
      .start()
  }

  /** spark-submit entry: `--class graft.pipeline.GeoPipeline <jar>
    * <sfDir> <outDir>`. Rerun with the same args resumes from manifests
    * (zero stages recomputed). Prints ONE JSON summary line. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_geo_pipeline"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Bench.makeSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val cp = new CheckpointedPipeline(spark, outDir)
    val r = run(spark, sfDir, cp, "v1")
    val rows = r.report.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"job":"geo_pipeline","sf":"$sfDir","out":"$outDir",""" +
      s""""stages_computed":${cp.computedStages},"report_rows":$rows,""" +
      s""""failed_laws":${r.failedLaws.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""sec":${f"$sec%.2f"}}""")
    spark.stop()
  }
}
