package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.spatial.{CellGrid, SpatialJoin, SynthGeo}

/** The flagship job and the shared shuffle counter, used by `graft.Bench`
  * and by the `flagship` family of [[Sweep]]: deterministic point
  * synthesis → broadcast cell-join + codegen PIP → per-zone count.
  *
  * The point set is the events table replicated `repl`× with
  * deterministically perturbed coordinates (pure column math, no RNG state).
  */
object Scale {

  /** Shared shuffle-WRITE-bytes counter (Bench / BenchExtra / Sweep):
    * registers a stage-completion listener and returns the running total —
    * exchange volume is the contention-immune measure of a shuffle diet. */
  def shuffleCounter(spark: SparkSession): java.util.concurrent.atomic.AtomicLong = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          bytes.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      })
    bytes
  }

  /** Deterministic replicated point set, fully inside Catalyst.
    * id = event_id * repl + r (bijective), generated via range arithmetic —
    * no per-row arrays, no shuffle, perfectly balanced partitions. */
  def points(spark: SparkSession, sfDir: String, repl: Int, cores: Int): DataFrame = {
    val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
    spark.range(0L, nEvents * repl, 1L, cores * 2)
      .select(
        col("id"),
        expr(s"id div ${repl.toLong}").as("event_id"),
        (col("id") % lit(repl.toLong)).as("r"))
      .select(
        col("id"),
        ((col("event_id") * lit(7919L) + col("r") * lit(131L)) % lit(10000L) / lit(100.0)).as("x"),
        ((col("event_id") * lit(104729L) + col("r") * lit(173L)) % lit(10000L) / lit(100.0)).as("y"))
  }

  /** The flagship job; returns rows processed. */
  def flagship(spark: SparkSession, sfDir: String, repl: Int, cores: Int): Long = {
    val grid = CellGrid(8.0, origin = 0.0, rowWidth = 1L << 20)
    val pts = points(spark, sfDir, repl, cores)
    SpatialJoin.pipJoinCodegen(pts, "id", "x", "y", SynthGeo.zones, grid)
      .groupBy("zone_id").agg(count(lit(1)).as("n"))
      .agg(sum("n")).first()
    repl.toLong * spark.read.parquet(s"$sfDir/events.parquet").count()
  }
}
