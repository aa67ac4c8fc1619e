package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class EventStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming windowed agg equals the batch q_event_windows result") {
    import spark.implicits._
    val streamed = EventStream.drainOnce(spark, "complete")(_ => EventStream
        .windowedAgg(EventStream.tableStream(spark, TestSpark.sf001, "events")))
      .as[(Long, String, Long, Double)].collect().toSet
    val batch = graft.Queries.queries("q_event_windows")(spark, TestSpark.sf001)
      .as[(Long, String, Long, Double)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup RESUMES from checkpoint: state survives restart, file sink stays exactly-once") {
    TestSpark.withTempDir("graft_resume") { base =>
      // the north rule's resumability on the streaming side: kill the query,
      // restart against the same checkpoint — the flatMapGroupsWithState
      // state store is restored (a key seen before the kill is NOT
      // re-emitted) and the file sink commits each batch exactly once
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val inDir = base.resolve("in"); val ckDir = base.resolve("ck")
      val outDir = base.resolve("out")
      java.nio.file.Files.createDirectories(inDir)
      def writeBatch(name: String, rows: Seq[(String, Long)]): Unit =
        rows.toDF("k", "id").coalesce(1).write.parquet(s"$inDir/$name")
      def runRound(): Unit = {
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType)))
        val stream = spark.readStream.schema(schema)
          .option("pathGlobFilter", "*.parquet").parquet(s"$inDir/*")
        val q = EventStream.streamingDedup(stream.as[(String, Long)])
          .writeStream.outputMode("append").format("parquet")
          .option("path", outDir.toString)
          .option("checkpointLocation", ckDir.toString)
          .start()
        q.processAllAvailable()
        q.stop() // the kill
      }
      writeBatch("b1", Seq(("A", 1L), ("B", 2L)))
      runRound()
      writeBatch("b2", Seq(("B", 3L), ("C", 4L))) // B is a replay across the kill
      runRound()
      val out = spark.read.parquet(outDir.toString)
        .as[(String, Long)].collect().sorted.toSeq
      // B emitted ONCE with its pre-kill keep_id; C picked up post-restart
      assert(out === Seq(("A", 1L), ("B", 2L), ("C", 4L)), out.toString)
    }
  }

  test("a run-once query with a sentinel flush leaves no scratch directory behind") {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base = if (java.nio.file.Files.isDirectory(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def scratch() = base.toFile.list().filter(_.startsWith("graft_")).toSet
    val before = scratch()
    val sessions = EventStream.runSessionWindowsOnce(spark, TestSpark.sf001, 1800L)
    assert(sessions.count() > 0)
    assert(scratch() -- before === Set.empty[String])
  }

  test("stateful streaming dedup equals batch exactDedup keep_ids (single batch)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val streamed = EventStream.drainOnce(spark, "append")(_ => EventStream
        .streamingDedup(EventStream.tableStream(spark, TestSpark.sf001, "documents")
          .select(substring(col("text"), 1, 30).as("k"), col("doc_id"))
          .as[(String, Long)]))
      .as[(String, Long)].collect().toMap
    val batch = graft.dedup.Dedup.exactDedup(
        spark.read.parquet(s"${TestSpark.sf001}/documents.parquet"),
        substring(col("text"), 1, 30), col("doc_id"))
      .select("k", "keep_id").as[(String, Long)].collect().toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup state swallows re-sent keys across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val q = EventStream.streamingDedup(input.toDS()).writeStream
      .outputMode("append").format("memory").queryName("dedup_two_batches").start()
    input.addData(("a", 5L), ("a", 3L), ("b", 7L))
    q.processAllAvailable()
    input.addData(("a", 1L), ("c", 9L)) // 'a' already seen -> swallowed
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_two_batches").as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 3L, "b" -> 7L, "c" -> 9L))
  }

  test("streaming flagship zone windows equal the batch cell-join + PIP") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val grid = graft.spatial.CellGrid(8.0, origin = 0.0, rowWidth = 1L << 20)
    val got = EventStream
      .runZoneWindowsOnce(spark, sf, graft.spatial.SynthGeo.zones, grid)
      .as[(Long, Long, Long)].collect().toSet
    // batch equivalent: same derivation through the batch flagship join
    val pts = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id").as("id"),
        (col("event_id") * lit(7919L) % lit(10000L) / lit(100.0)).as("x"),
        (col("event_id") * lit(104729L) % lit(10000L) / lit(100.0)).as("y"),
        (expr("unix_micros(cast(ts as timestamp))") / lit(300000000L))
          .cast("long").as("bucket"))
    val assigned = graft.spatial.SpatialJoin.pipJoinCodegen(
      pts, "id", "x", "y", graft.spatial.SynthGeo.zones, grid)
    val batch = assigned.join(pts.select("id", "bucket"), "id")
      .groupBy("bucket", "zone_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got === batch)
    assert(got.nonEmpty)
  }

  test("TTL dedup: state evicts past the watermark and the key re-emits") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val input = MemoryStream[(String, Long, java.sql.Timestamp)]
    val q = EventStream.streamingDedupTtl(input.toDS(), ttlMs = 10 * 60000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_ttl").start()
    input.addData(("a", 5L, ts(0)), ("a", 3L, ts(1))) // first-seen: emit a->3
    q.processAllAvailable()
    input.addData(("c", 9L, ts(40))) // advances watermark to 30min >> a's TTL
    q.processAllAvailable()
    input.addData(("b", 7L, ts(41))) // batch that FIRES a's pending timeout
    q.processAllAvailable()
    input.addData(("a", 1L, ts(42))) // a evicted -> re-emits with the new id
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_ttl").as[(String, Long)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(got === Map("a" -> Seq(1L, 3L), "b" -> Seq(7L), "c" -> Seq(9L)),
      s"got $got")
  }
}
