package graft.spatial

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import graft.TestSpark

/** Plan-shape guards: the flagship join must stay broadcast + codegen. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val grid = CellGrid(8.0, origin = 0.0, rowWidth = 1L << 20)

  test("codegen PIP plan: broadcast hash join, WholeStageCodegen, no shuffle on point side") {
    val pts = SynthGeo.points(spark, TestSpark.sf001).toDF()
    val joined = SpatialJoin.pipJoinCodegen(pts, "id", "x", "y", SynthGeo.zones, grid)
    joined.collect() // finalize the adaptive plan
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    // "*(1)" is the WholeStageCodegen stage marker in the compact plan string;
    // the join itself must carry it (scan→filter→join→project in one stage)
    assert(plan.contains("*(1) BroadcastHashJoin"), s"expected codegen join:\n$plan")
    assert(plan.contains("point_in_polygon"), s"expected native PIP predicate:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("partitioned scale paths never plan a nested-loop or cartesian join") {
    import spark.implicits._
    val pts = SynthGeo.points(spark, TestSpark.sf001)
    val sites = spark.createDataset(SynthGeo.sites)
    val radius = SpatialJoin.radiusJoinPartitioned(
      pts, sites, CellGrid(6.5, origin = 0.0, rowWidth = 1L << 20), 6.5)
    radius.collect()
    val rPlan = radius.queryExecution.executedPlan.toString
    assert(!rPlan.contains("BroadcastNestedLoop") && !rPlan.contains("Cartesian"),
      s"radius join must stay an equi-join:\n$rPlan")
    val zonesDs = spark.createDataset(SynthGeo.zones)
    val pip = SpatialJoin.pipJoinPartitioned(pts, zonesDs, grid)
    pip.collect()
    val pPlan = pip.queryExecution.executedPlan.toString
    assert(!pPlan.contains("BroadcastNestedLoop") && !pPlan.contains("Cartesian"),
      s"partitioned PIP must stay an equi-join:\n$pPlan")
  }

  test("jaccard prefix candidate join is an equi-join with partial aggregation") {
    val docs = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet")
    val q = graft.dedup.Dedup.jaccardPairsExact(docs, "doc_id", "text", 3, 0.6)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("Cartesian"),
      s"prefix join must stay an equi-join:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected partial aggregation:\n$plan")
    // ONE shingle-hash generation feeds the df aggregate, the prefix and
    // both verify joins (a reused exchange or a re-read cache is not a
    // second evaluation)
    val sites = evaluationSites(q.queryExecution.executedPlan, "shingle_hash64")
    assert(sites.size == 1, s"shingle_hash64 evaluated at ${sites.size} plan nodes:\n" +
      sites.map(_.simpleString(400)).mkString("\n"))
    graft.CacheBin.drain()
  }

  /** Physical nodes whose own expressions call the function `name` —
    * looking into adaptive query stages and, once per cache, into the plan
    * an in-memory scan was materialized from. Reused exchanges are leaves,
    * so a reused subtree is counted where it ran. */
  private def evaluationSites(plan: SparkPlan, name: String): Seq[SparkPlan] = {
    val caches = scala.collection.mutable.Set.empty[AnyRef]
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case m: InMemoryTableScanExec =>
        if (caches.add(m.relation.cacheBuilder)) walk(m.relation.cachedPlan) else Nil
      case node =>
        val here = node.expressions.exists(_.exists(_.prettyName == name))
        (if (here) Seq(node) else Nil) ++ node.children.flatMap(walk)
    }
    walk(plan)
  }

  test("parquet scan prunes columns for the PIP query") {
    val pts = SynthGeo.points(spark, TestSpark.sf001).toDF()
    val plan = pts.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<event_id:bigint>"),
      s"expected pruned scan (event_id only):\n$plan")
  }
}
