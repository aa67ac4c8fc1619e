package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Native session_window streaming aggregation: stream == batch sessionize,
  * and the state-store window merge across micro-batches is exercised
  * directly (a session spanning the batch boundary must flush ONCE with the
  * merged extent when the watermark passes its end). */
class SessionWindowStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming session windows equal the batch q_sessionize rollup") {
    import spark.implicits._
    val streamed = EventStream
      .runSessionWindowsOnce(spark, TestSpark.sf001, 1800L)
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = graft.Queries.queries("q_sessionize")(spark, TestSpark.sf001)
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("a session spanning micro-batches merges in state; watermark advance flushes it once") {
    TestSpark.withTempDir("graft_sess_merge") { base =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val inDir = s"$base/in"
      def write(name: String, rows: Seq[(Long, Long)]): Unit =
        rows.toDF("user_id", "sec")
          .select(col("user_id"), timestamp_seconds(col("sec")).as("ts"))
          .coalesce(1).write.parquet(s"$inDir/$name")
      // batch 1: user 1's session is OPEN at the boundary (last event 100s,
      // gap 1800s); user 2 has a lone event
      write("b1", Seq((1L, 0L), (1L, 100L), (2L, 50L)))
      val schema = spark.read.parquet(s"$inDir/b1").schema
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(s"$inDir/*")
      val q = EventStream.sessionWindowAgg(stream, 1800L).writeStream
        .outputMode("append").format("memory").queryName("sess_merge").start()
      q.processAllAvailable()
      // batch 2: 1000s continues user 1's open session (900s < gap) ACROSS
      // the micro-batch boundary; 5000s opens a second session for user 2;
      // the -1 sentinel advances the watermark past every real session end
      write("b2", Seq((1L, 1000L), (2L, 5000L), (-1L, 10000L)))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("sess_merge").filter(col("user_id") >= 0)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(out === Set(
        (1L, 0L, 1000L, 3L),   // merged across batches, emitted exactly once
        (2L, 50L, 50L, 1L),
        (2L, 5000L, 5000L, 1L)))
    }
  }
}
