package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming face of the engine. The reference is batch-only
  * (SURVEY §2.8), so streaming here covers the graft's ingest shape: a
  * watermarked tumbling-window aggregation over the events table that is
  * provably equivalent to the batch q_event_windows query — the streaming
  * and batch plans share the same grouping semantics, so a pipeline can
  * switch between backfill (batch) and live (stream) with identical results.
  * Every bounded `run*Once` goes through one run-once harness, [[drainOnce]].
  */
object EventStream {

  /** Scratch root of ONE bounded run (see [[drainOnce]], which deletes it
    * when the run ends). The default temp dir sits on a disk filesystem,
    * and HDFS-backed state store commits fsync per partition per store per
    * micro-batch — measured 430 s of task time at 10 s of task CPU on the
    * interval join (guide §7.4 "blocked on I/O", §5). A RAM-backed tmpfs
    * removes the sync stalls; durability is irrelevant by construction
    * here (a crash restarts the whole bounded run). Production streams
    * with real recovery contracts pass their own durable
    * checkpointLocation — [[graft.pipeline.GeoPipeline.appendStream]]
    * still does. */
  private def scratchDir(): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base, "graft_stream_").toString
  }

  /** Start a query with checkpoint-file CHECKSUMMING off (Spark 4.1
    * writes + awaits a checksum companion file for every state-store
    * delta through a shared pool — thread dumps showed the interval
    * join's tasks parked in ChecksumCheckpointFileManager.awaitResult
    * for 97% of task time: 430 s task / 10 s CPU per run). Corruption
    * detection on a checkpoint that is DISCARDED at the end of the
    * bounded run protects nothing; durable streams
    * ([[graft.pipeline.GeoPipeline.appendStream]]) keep the default. The
    * conf is read at query start, so it is restored immediately after. */
  private def startUnchecksummed(spark: SparkSession)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // second layer, same diagnosis: Hadoop's local FileContext wraps
    // file:// in ChecksumFs, so every state-store delta commit renames
    // TWO files and stats them through forked `stat` processes —
    // RawLocalFs is the same local filesystem without the .crc companion
    // machinery. Both confs are captured when the query starts and
    // restored right after.
    val keys = Seq(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        "org.apache.hadoop.fs.local.RawLocalFs")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try start
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The run-once harness every bounded streaming run goes through: it
    * drains the stream `query` builds into a memory sink with a generated
    * unique name and returns that table. The checkpoint lives under a
    * fresh scratch root, deleted when the run ends whatever its outcome.
    * With `staged = Some((rows, sentinels))`, `rows` are first written to
    * `<root>/in`, the directory `query` receives; after the first drain
    * the sentinels are appended there and drained too. Append mode emits
    * a session or an outer-join miss only once the watermark passes its
    * end, and far-future sentinels move it past every real row. */
  private[streaming] def drainOnce(spark: SparkSession, outputMode: String,
      staged: Option[(DataFrame, DataFrame)] = None)(
      query: String => DataFrame): DataFrame = {
    val root = java.nio.file.Paths.get(scratchDir())
    try {
      val in = root.resolve("in").toString
      staged.foreach(_._1.write.parquet(in))
      val name = s"graft_run_${runSeq.incrementAndGet()}"
      val q = startUnchecksummed(spark)(query(in).writeStream
        .option("checkpointLocation", root.resolve("cp").toString)
        .outputMode(outputMode).format("memory").queryName(name).start())
      try {
        q.processAllAvailable()
        staged.foreach { case (_, sentinels) =>
          sentinels.write.mode("append").parquet(in)
          q.processAllAvailable()
        }
      } finally q.stop()
      spark.table(name)
    } finally {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }

  /** The `table` parquet of `sfDir` as a file stream. FileStreamSource
    * needs a directory and the table is a single file, so a glob filter
    * scopes the directory scan to it. */
  private[streaming] def tableStream(spark: SparkSession, sfDir: String,
      table: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(s"$sfDir/$table.parquet").schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(sfDir)

  /** Tumbling 5-minute windowed counts/sums, streaming flavor. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withColumn("ets", col("ts").cast("timestamp"))
      .withWatermark("ets", "10 minutes")
      .groupBy(window(col("ets"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(
        (unix_micros(col("window.start")) / lit(300000000L)).cast("long").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact dedup — the live flavor of Osm.merge_duplicated /
    * Dedup.exactDedup: custom state via flatMapGroupsWithState keyed by the
    * canonical key; a key emits exactly once (its first-seen batch's min
    * id), every later occurrence is swallowed by the per-key state. The
    * state is one boolean+long per distinct key, partitioned by key — the
    * 10^12-row shape (state ∝ distinct keys per executor, not rows). */
  def streamingDedup(keyed: org.apache.spark.sql.Dataset[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = keyed.sparkSession
    import spark.implicits._
    keyed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: String, it: Iterator[(String, Long)], state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val keepId = it.map(_._2).min
            state.update(keepId)
            Iterator((k, keepId))
          }
      }
      .toDF("k", "keep_id")
  }

  /** streamingDedup with BOUNDED state (VERDICT r2 item 6): event-time
    * watermark + per-key timeout eviction. Semantics change vs the
    * unbounded flavor, documented: a key emits once per TTL window — after
    * its state is evicted (no occurrence for `ttl` past the watermark), a
    * reappearance emits again. State is therefore ∝ keys ACTIVE within the
    * watermark horizon, not all keys ever seen — the 10^12-distinct-key
    * shape a 100 TB stream needs. */
  def streamingDedupTtl(
      keyed: org.apache.spark.sql.Dataset[(String, Long, java.sql.Timestamp)],
      ttlMs: Long = 10 * 60 * 1000L,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = keyed.sparkSession
    import spark.implicits._
    keyed.toDF("k", "id", "ets")
      .withWatermark("ets", watermarkDelay)
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: String, it: Iterator[(String, Long, java.sql.Timestamp)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove() // evicted: the key may emit again later
            Iterator.empty
          } else if (state.exists) {
            // key still hot: push the eviction horizon out, swallow rows
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs + ttlMs)
            Iterator.empty
          } else {
            val keepId = it.map(_._2).min
            state.update(keepId)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs + ttlMs)
            Iterator((k, keepId))
          }
      }
      .toDF("k", "keep_id")
  }

  /** Streaming NEAR-duplicate filter against a static corpus — the
    * crawl-ingest shape of the dedup suite: every incoming document is
    * shingle-hashed and minhash-banded with the SAME column definitions as
    * the batch path (ShingleHash64Expr → [[graft.dedup.Dedup.minhashBandKeys]]),
    * then stream-static LEFT OUTER joined on the band key to the corpus's
    * banded signature index; candidate hits are verified by exact
    * hashed-shingle Jaccard ([[graft.dedup.Dedup.jaccard]]) and
    * a per-doc group pass drops any document with a verified match
    * >= threshold. Emits the surviving (doc_id, text) rows.
    *
    * Scale shape: the banded index is a static table the join shuffles
    * against (no broadcast needed at 10^12 corpus rows); per-batch work is
    * the batch band join's, and the only state Spark keeps is the join's
    * static side — no streaming aggregation state grows with the stream. */
  def nearDupFilter(
      docs: DataFrame, // streaming (doc_id long, text string)
      corpus: DataFrame, // static (doc_id long, text string)
      threshold: Double = 0.6): DataFrame = {
    import graft.dedup.Dedup
    val spark = docs.sparkSession
    import spark.implicits._
    // text rides the stream side through banding (a self-join to re-attach
    // it would be an illegal stream-stream join)
    def banded(df: DataFrame, carry: Seq[String], idAs: String, shAs: String) = df
      .select(col("doc_id").as(idAs) +: carry.map(col) :+ graft.functions.ShingleHash64Expr
        .shingleHash64(split(col("text"), " "), Dedup.ShingleN).as(shAs): _*)
      .select(col(idAs) +: carry.map(col) :+ col(shAs) :+
        explode(Dedup.minhashBandKeys(col(shAs))).as("bk"): _*)
    val corpusIdx = banded(corpus, Seq.empty, "c_id", "c_sh")
    val streamB = banded(docs, Seq("text"), "doc_id", "sh")
    streamB
      .join(corpusIdx, Seq("bk"), "left_outer")
      .withColumn("inter", Dedup.overlap(col("sh"), col("c_sh")))
      .withColumn("verified",
        col("c_id").isNotNull &&
          Dedup.jaccard(col("sh"), col("c_sh"), col("inter")) >= threshold)
      .select(col("doc_id"), col("text"), col("verified"))
      .as[(Long, String, Boolean)]
      .groupByKey(_._1)
      // a doc's exploded band rows all live in one micro-batch, so the
      // group decision is batch-local; state stays empty (Append-mode
      // contract needs the GroupState signature, not actual state)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (id: Long, it: Iterator[(Long, String, Boolean)],
         state: org.apache.spark.sql.streaming.GroupState[Boolean]) =>
          val rows = it.toSeq
          if (rows.exists(_._3)) Iterator.empty
          else Iterator((id, rows.head._2))
      }
      .toDF("doc_id", "text")
  }

  /** Run nearDupFilter synchronously over the sf documents table split by
    * doc_id parity — odd ids stream against the even-id static corpus —
    * and return the surviving rows (the q_dedup_stream driver shape). */
  def runNearDupOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 2 === 0)
      .select("doc_id", "text")
    drainOnce(spark, "append")(_ => nearDupFilter(
      tableStream(spark, sfDir, "documents")
        .filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text"),
      corpus))
  }

  /** STREAMING face of the flagship spatial join: the same UDF-free cell
    * derivation + broadcast zone-cell join + native point_in_polygon
    * refinement as pipJoinCodegen, applied to a stream, then a tumbling
    * window count per zone — stream-static join and windowed agg, so a
    * live geo-tagged page feed gets the identical tile assignment the
    * batch backfill computes. */
  def zoneWindowCounts(
      events: DataFrame,
      zones: Seq[graft.spatial.Zone],
      grid: graft.spatial.CellGrid): DataFrame = {
    val located = events.select(
      col("event_id").as("id"),
      (col("event_id") * lit(7919L) % lit(10000L) / lit(100.0)).as("x"),
      (col("event_id") * lit(104729L) % lit(10000L) / lit(100.0)).as("y"),
      col("ts").cast("timestamp").as("ets"))
    graft.spatial.SpatialJoin
      .pipProbe(located, "x", "y", grid.cellCol(col("x"), col("y")),
        zones, z => grid.coverPolygon(z.geometry))
      .groupBy(window(col("ets"), "5 minutes"), col("zone_id"))
      .agg(count(lit(1)).as("n"))
      .select(
        (unix_micros(col("window.start")) / lit(300000000L)).cast("long").as("bucket"),
        col("zone_id"), col("n"))
  }

  /** Run zoneWindowCounts over the parquet events of `sfDir` synchronously
    * (memory sink, complete mode) and return the result. */
  def runZoneWindowsOnce(spark: SparkSession, sfDir: String,
      zones: Seq[graft.spatial.Zone], grid: graft.spatial.CellGrid): DataFrame =
    drainOnce(spark, "complete")(_ =>
      zoneWindowCounts(tableStream(spark, sfDir, "events"), zones, grid))

  /** Run the streaming link-window rollup synchronously: readStream over
    * the documents parquet, the SAME pure-column page synthesis as the
    * batch path (Pages.linkedPagesFrom), href extraction + tumbling
    * event-time windows (WebGraph.hostWindowCounts), memory sink. `n` is
    * the corpus row count (one cheap batch count, passed in so the stream
    * stays a pure column map). */
  def runHostWindowsOnce(spark: SparkSession, sfDir: String, n: Long): DataFrame =
    drainOnce(spark, "complete")(_ => graft.ops.WebGraph.hostWindowCounts(
      graft.sources.Pages.linkedPagesFrom(tableStream(spark, sfDir, "documents"), n)))

  /** Gap-based session windows via Spark's NATIVE `session_window`: the
    * streaming aggregation operator merges overlapping per-key windows in
    * the state store itself and, in append mode, emits a session exactly
    * once — when the event-time watermark passes its end (last event +
    * gap). State is ∝ OPEN sessions per key, evicted by the same watermark,
    * so a 10^12-event stream holds only its active-session frontier.
    * Timestamps are truncated to whole seconds BEFORE windowing so stream,
    * batch ([[graft.ops.Temporal.sessionize]]) and the SQL oracle share one
    * gap rule (diff > gapSec splits). */
  def sessionWindowAgg(events: DataFrame, gapSec: Long): DataFrame =
    events
      .select(col("user_id"), timestamp_seconds(
        expr("unix_micros(cast(ts as timestamp)) div 1000000")).as("ets"))
      .withWatermark("ets", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ets"), s"$gapSec seconds"))
      .agg(count(lit(1)).as("n_events"), max(col("ets")).as("emax"))
      .select(col("user_id"),
        unix_seconds(col("session_window.start")).as("session_start"),
        unix_seconds(col("emax")).as("session_end"),
        col("n_events"))

  /** Run [[sessionWindowAgg]] over the events of `sfDir` synchronously.
    * Append mode emits a session only when the watermark passes its end,
    * so after draining the real data the harness appends ONE far-future
    * sentinel event (user_id = -1) to the staged stream dir: the watermark
    * advance it causes — plus the no-data micro-batch Spark schedules on
    * watermark movement — flushes every real session deterministically.
    * This is exactly the mechanism a production stream relies on (the
    * late-data horizon moving past a session), exercised end-to-end rather
    * than short-circuited with complete mode. */
  def runSessionWindowsOnce(spark: SparkSession, sfDir: String,
      gapSec: Long): DataFrame = {
    val batch = spark.read.parquet(s"$sfDir/events.parquet")
    val maxTs = batch
      .agg(max(expr("unix_micros(cast(ts as timestamp)) div 1000000")))
      .head().getLong(0)
    val sentinel = batch.limit(1)
      .withColumn("user_id", lit(-1L))
      .withColumn("ts", timestamp_seconds(lit(maxTs + 2 * gapSec + 10)))
    drainOnce(spark, "append", Some((batch, sentinel)))(in =>
      sessionWindowAgg(spark.readStream.schema(batch.schema).parquet(in), gapSec))
      .filter(col("user_id") >= 0)
  }

  /** STREAM–STREAM event-time interval join — the attribution shape
    * (impression stream × click stream): inner join on a key plus a
    * time-range bound `imp.ts < clk.ts <= imp.ts + maxDelay`. Both sides
    * carry an event-time watermark, and the range condition gives Spark a
    * state-eviction bound on EACH side: an impression's state is dropped
    * once the click watermark passes its ts + maxDelay, a click's once the
    * impression watermark passes its ts — so join state is proportional to
    * the delay horizon's event volume, never the stream's history. That
    * bounded-state contract is the whole reason the interval bound is in
    * the join condition instead of a post-filter (an unbounded inner join
    * keeps every row ever seen). */
  def intervalJoin(imps: DataFrame, clks: DataFrame, key: String,
      maxDelaySec: Long, watermarkDelay: String = "10 minutes"): DataFrame =
    intervalJoinTyped(imps, clks, key, maxDelaySec, watermarkDelay, "inner")

  /** LEFT OUTER flavor: an impression with no click inside the horizon
    * emits (clk_id = -1, delay_us = -1) — but only once the global
    * watermark passes its ts + maxDelay (no earlier click can still
    * arrive). That late emission is the semantics a production attribution
    * stream relies on; the harness drives it with far-future sentinel rows
    * exactly as [[runSessionWindowsOnce]] drives session flushes. */
  def intervalJoinOuter(imps: DataFrame, clks: DataFrame, key: String,
      maxDelaySec: Long, watermarkDelay: String = "10 minutes"): DataFrame =
    intervalJoinTyped(imps, clks, key, maxDelaySec, watermarkDelay, "left_outer")

  /** The equality key is (business key, TIME BUCKET of width maxDelay):
    * a qualifying pair has 0 < clk − imp ≤ maxDelay, so the click's bucket
    * is the impression's or the one after — the click side probes its own
    * bucket and the previous one (a constant 2× literal explode), and each
    * qualifying pair matches on exactly ONE bucket (no dedup needed).
    * Without the bucket, a low-cardinality business key (6 event types
    * here) degenerates the symmetric hash join into per-key cross products
    * — O(n²/k) comparisons that took 64 s at sf0.1 and would be fatal at
    * corpus scale; with it, per-key state lookups are bounded by one
    * horizon's events. The range predicate stays in the condition for
    * correctness AND state eviction. */
  private def intervalJoinTyped(imps: DataFrame, clks: DataFrame, key: String,
      maxDelaySec: Long, watermarkDelay: String, joinType: String): DataFrame = {
    val i = imps
      .select(col("event_id").as("imp_id"), col(key).as("k"),
        col("ts").cast("timestamp").as("its"))
      .withColumn("ius", unix_micros(col("its")))
      .withColumn("ib", (col("ius") / lit(maxDelaySec * 1000000L)).cast("long"))
      .withWatermark("its", watermarkDelay)
    val c = clks
      .select(col("event_id").as("clk_id"), col(key).as("ck"),
        col("ts").cast("timestamp").as("cts"))
      .withColumn("cus", unix_micros(col("cts")))
      .withColumn("cb", explode(array(
        (col("cus") / lit(maxDelaySec * 1000000L)).cast("long"),
        (col("cus") / lit(maxDelaySec * 1000000L)).cast("long") - lit(1L))))
      .withWatermark("cts", watermarkDelay)
    // condition order matters: the symmetric hash join evaluates it
    // INTERPRETED once per candidate row under a (key, bucket) state
    // entry, and per-key candidate lists are horizon-dense. The first two
    // conjuncts are plain 8-byte integer compares over the precomputed
    // epoch-micro columns and short-circuit virtually all non-matches;
    // the equivalent TIMESTAMP range conjuncts stay behind them because
    // THEY are what the planner reads to derive watermark-based state
    // eviction (state ∝ horizon) — semantically redundant, load-bearing
    // for the unbounded-state contract.
    i.join(c,
        i("k") === c("ck") && i("ib") === c("cb") &&
          c("cus") > i("ius") &&
          c("cus") <= i("ius") + lit(maxDelaySec * 1000000L) &&
          c("cts") > i("its") &&
          c("cts") <= i("its") + expr(s"INTERVAL $maxDelaySec seconds"),
        joinType)
      .select(col("imp_id"),
        coalesce(col("clk_id"), lit(-1L)).as("clk_id"),
        col("k").as("event_type"),
        coalesce(unix_micros(col("cts")) - unix_micros(col("its")), lit(-1L))
          .as("delay_us"))
  }

  /** Run [[intervalJoin]] synchronously over the events of `sfDir`: even
    * event_ids stream as impressions, odd as clicks (two independent
    * readStream sources over the same parquet — a genuine stream-stream
    * self-join). Inner-join pairs emit in the micro-batch that completes
    * them, so one drain suffices (no watermark-flush sentinel needed —
    * that is only an append-mode AGGREGATION/outer-join concern). */
  def runIntervalJoinOnce(spark: SparkSession, sfDir: String,
      maxDelaySec: Long): DataFrame =
    drainOnce(spark, "append") { _ =>
      def src() = tableStream(spark, sfDir, "events")
      intervalJoin(src().filter(col("event_id") % 2 === 0),
        src().filter(col("event_id") % 2 === 1), "event_type", maxDelaySec)
    }

  /** Run [[intervalJoinOuter]] synchronously. Unmatched impressions only
    * emit when the watermark passes their horizon, so after draining the
    * real data the harness appends one far-future sentinel row to EACH
    * stream (the global watermark is the MIN across inputs — both must
    * advance) and drains again; sentinel rows are filtered by type. */
  def runIntervalJoinOuterOnce(spark: SparkSession, sfDir: String,
      maxDelaySec: Long): DataFrame = {
    val batch = spark.read.parquet(s"$sfDir/events.parquet")
    val maxUs = batch
      .agg(max(unix_micros(col("ts").cast("timestamp")))).head().getLong(0)
    val sentinelTs = timestamp_micros(
      lit(maxUs + (maxDelaySec + 60L) * 1000000L))
    // one sentinel per INPUT (the global watermark is the min across
    // inputs): an odd id feeds the click stream, an even the impressions;
    // the sentinel type matches no real key so neither can join, and the
    // sentinel impression never emits (its own horizon stays past the
    // final watermark) — filtered by type regardless
    def sentinel(id: Long) = batch.limit(1)
      .withColumn("event_id", lit(id))
      .withColumn("ts", sentinelTs)
      .withColumn("event_type", lit("zz_sentinel"))
    val sentinels = sentinel(2000000001L).unionByName(sentinel(2000000002L))
    drainOnce(spark, "append", Some((batch, sentinels))) { in =>
      def src() = spark.readStream.schema(batch.schema).parquet(in)
      intervalJoinOuter(src().filter(col("event_id") % 2 === 0),
        src().filter(col("event_id") % 2 === 1), "event_type", maxDelaySec,
        watermarkDelay = "0 seconds")
    }.filter(col("event_type") =!= "zz_sentinel")
  }
}
