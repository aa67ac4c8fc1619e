package org.apache.spark.sql

import org.scalatest.funsuite.AnyFunSuite

/** Pins the private[sql] API `GraftRddBridge.freshStatsCopy` rides on:
  * every components round resets its plan statistics through it, so a
  * Spark upgrade that changes `internalCreateDataFrame` must fail here,
  * not as a planner overflow deep in a DBSCAN run. */
class GraftRddBridgeSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  test("freshStatsCopy keeps the rows and resets sizeInBytes to the default") {
    import spark.implicits._
    val ck = (0L until 500L).map(i => (i, i % 7)).toDF("u", "v")
      .groupBy("v").agg(functions.count(functions.lit(1)).as("n"))
      .localCheckpoint()
    val fresh = GraftRddBridge.freshStatsCopy(ck)
    assert(fresh.schema == ck.schema)
    assert(fresh.as[(Long, Long)].collect().sorted.toSeq ==
      ck.as[(Long, Long)].collect().sorted.toSeq)
    val default = spark.sessionState.conf.defaultSizeInBytes
    assert(fresh.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(default))
    assert(ck.queryExecution.optimizedPlan.stats.sizeInBytes != BigInt(default),
      "a bare localCheckpoint keeps its child's estimate — the reason the bridge exists")
  }
}
