package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.sources.Bucketed

/** Plan contract for the iterative graph ops: the edge table is exchanged
  * only at cache-build time (hidden inside the InMemoryRelation), so the
  * EXECUTED plan of a k-iteration run must contain exactly one exchange
  * per rank update — the partially-aggregated per-dst mass — and nothing
  * edge-sized. This is the property that made the graph sweep's 8→32
  * efficiency go from 0.23 (edges re-sorted every round) to the machine
  * ceiling; the spec pins it against regressions. */
class WebGraphPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def edges(n: Long) =
    (0L until n).flatMap(id => (0L to id % 4).map(j => id -> (id * 131 + 7 * j) % n))
      .toDF("src", "dst")

  test("pageRank: exactly ONE exchange per iteration, none edge-sized") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcast off: the claim is about the sort-merge path the cached
      // layouts exist for (at real node counts the rank table can't fit)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (iters <- Seq(1, 3)) {
        val r = WebGraph.pageRank(edges(500L), 500L, iters)
        r.collect()
        assert(Bucketed.shuffleCount(r.toDF()) === iters,
          s"iters=$iters plan:\n${r.queryExecution.executedPlan}")
        graft.CacheBin.drain()
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("hits: last auth materialized once — final plan holds ONE exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (iters <- Seq(1, 2)) {
        val r = WebGraph.hits(edges(500L), 500L, iters)
        r.collect()
        // rounds 1..k and the final aMass run inside the auth checkpoint
        // job (2 exchanges per round, pageRank's asserted shape). The
        // RESULT plan is allowed exactly: one node-sized re-exchange of
        // the checkpointed auth (LogicalRDD drops partitioning metadata)
        // + the final hub-mass exchange. The auth's SECOND consumer must
        // show as ReusedExchange — without the checkpoint the whole
        // chain recomputed (every prior round's exchanges ran twice;
        // this spec originally caught exactly that)
        assert(Bucketed.shuffleCount(r.toDF()) === 2,
          s"iters=$iters plan:\n${r.queryExecution.executedPlan}")
        assert(r.queryExecution.executedPlan.toString.contains("ReusedExchange"),
          s"iters=$iters: auth not shared between hub update and output")
        graft.CacheBin.drain()
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
