package graft.ops
import org.scalatest.funsuite.AnyFunSuite
/** Plan-shape guard for the alternating-star round (late-r06 form): each
  * star phase computes its neighborhood minimum as a map-side-combined
  * per-key AGGREGATE re-attached by an equi-join (AQE-broadcast here,
  * skew-splittable SMJ at corpus scale), so the only edge-sized shuffle
  * per round is the canonical distinct — three shuffle stages total, two
  * of them node-sized aggregate partials. Crucially there must be NO
  * Window operator anywhere in the round: a mid-r06 formulation computed
  * the same min as an unordered window sharing the phase exchange, and
  * WindowExec's whole-partition buffering OOMed on the component root's
  * component-sized partition at 2M-point DBSCAN scale (Spark can
  * skew-handle joins and aggregates; it cannot split a window partition). */
class AltStarPlanSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  test("one alternating-star round: three shuffle stages, no Window operator") {
    import spark.implicits._
    val e = (0L until 99L).map(i => (i + 1, i)).toDF("u", "v").localCheckpoint()
    val e2 = Adjacency.starRound(e)
    e2.collect()
    val plan = e2.queryExecution.executedPlan.toString
    // AQE prints initial AND final plans: count executed shuffle stages
    val nExchanges = "ShuffleQueryStage".r.findAllIn(plan).size
    assert(nExchanges == 3, s"expected 3 shuffle stages, got $nExchanges:\n$plan")
    assert(!plan.contains("Window"),
      s"a star round must never buffer a partition through WindowExec:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"the re-attach joins should be AQE-broadcast at node scale:\n$plan")
  }
}
