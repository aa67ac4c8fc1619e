package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Machine calibration: an embarrassingly parallel pure-codegen job
  * (range → arithmetic → agg, no shuffle beyond the final agg). Its
  * efficiency across core counts (the `calib` family of [[Sweep]]) is the
  * ceiling this host can deliver; other families' efficiencies are read
  * against it. */
object ScaleCalib {

  /** The shared canary kernel: range → multiply/mod → one agg. Bench's
    * in-line calib_brow_s and the calib sweep MUST measure the same kernel. */
  def kernel(s: SparkSession, n: Long, parts: Int): Unit =
    s.range(0, n, 1, parts)
      .select((col("id") * 2654435761L % 1000003L).as("h"))
      .agg(sum("h")).first()
}
