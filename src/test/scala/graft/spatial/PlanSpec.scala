package graft.spatial

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import graft.TestSpark
import graft.functions.{NearestSiteExpr, SitesWithinExpr}

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
    val pip = SpatialJoin.pipJoinPartitioned(pts.toDF(), "id", "x", "y", zonesDs, grid)
    pip.collect()
    val pPlan = pip.queryExecution.executedPlan.toString
    assert(!pPlan.contains("BroadcastNestedLoop") && !pPlan.contains("Cartesian"),
      s"partitioned PIP must stay an equi-join:\n$pPlan")
  }

  test("jaccard prefix candidate join is an equi-join with partial aggregation") {
    // sf0.001's shingle table is small enough for the one-task arm; a -1
    // broadcast threshold forces the distributed plan this test pins
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
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
  }

  test("jaccard one-task arm: one shingle_hash64 node, no exchange, one cache") {
    val docs = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet")
    graft.CacheBin.drain(blocking = true)
    val q = graft.dedup.Dedup.jaccardPairsExact(docs, "doc_id", "text", 3, 0.6)
    assert(graft.CacheBin.size == 1, "the one-task arm persists its shingle table only")
    q.collect()
    val plan = finalPlan(q.queryExecution.executedPlan)
    val text = plan.toString
    assert(plan.collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }.isEmpty,
      s"unexpected exchange:\n$text")
    assert(text.contains("Coalesce 1") && text.contains("MapPartitions"), text)
    val sites = evaluationSites(plan, "shingle_hash64")
    assert(sites.size == 1, s"shingle_hash64 evaluated at ${sites.size} plan nodes:\n$text")
    graft.CacheBin.drain()
  }

  /** Physical nodes whose own expressions call the function `name` —
    * looking into adaptive query stages and, once per cache, into the plan
    * an in-memory scan was materialized from. Reused exchanges are leaves,
    * so a reused subtree is counted where it ran. */
  private def evaluationSites(plan: SparkPlan, name: String): Seq[SparkPlan] = {
    val caches = scala.collection.mutable.Set.empty[AnyRef]
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case m: InMemoryTableScanExec =>
        if (caches.add(m.relation.cacheBuilder)) walk(finalPlan(m.relation.cachedPlan)) else Nil
      case node =>
        val here = node.expressions.exists(_.exists(_.prettyName == name))
        (if (here) Seq(node) else Nil) ++ node.children.flatMap(walk)
    }
    walk(finalPlan(plan))
  }

  /** The adaptive plan's final physical plan, stages inlined. */
  private def finalPlan(plan: SparkPlan): SparkPlan = plan.transform {
    case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
    case s: QueryStageExec => finalPlan(s.plan)
  }

  test("site probe plans: no object encoders, the probe inside whole-stage codegen") {
    val pts = SynthGeo.points(spark, TestSpark.sf001)
    val knn = SpatialJoin.nearestSiteJoin(pts, SynthGeo.sites, CellGrid(12.0, 0.0, 1L << 20))
      .groupBy("site_id").count()
    val radius = SpatialJoin.radiusJoin(pts, SynthGeo.sites, CellGrid(6.5, 0.0, 1L << 20), 6.5)
    for ((q, probe) <- Seq(knn -> classOf[NearestSiteExpr], radius -> classOf[SitesWithinExpr])) {
      q.collect()
      val plan = finalPlan(q.queryExecution.executedPlan)
      val text = plan.toString
      for (node <- Seq("DeserializeToObject", "MapPartitions", "SerializeFromObject"))
        assert(!text.contains(node), s"unexpected $node:\n$text")
      val stages = plan.collect { case w: WholeStageCodegenExec => stageNodes(w.child) }
      val probing = stages.filter(_.exists(_.expressions.exists(
        _.exists(probe.isInstance))))
      assert(probing.size == 1, s"${probe.getSimpleName} not inside one codegen stage:\n$text")
      if (probe == classOf[NearestSiteExpr]) // scan → probe → partial aggregate: one stage
        assert(probing.head.exists(_.isInstanceOf[HashAggregateExec]), text)
    }
  }

  /** Nodes of one whole-stage codegen stage (its inputs excluded). */
  private def stageNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case n => n +: n.children.flatMap(stageNodes)
  }

  test("parquet scan prunes columns for the PIP query") {
    val pts = SynthGeo.points(spark, TestSpark.sf001).toDF()
    val plan = pts.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<event_id:bigint>"),
      s"expected pruned scan (event_id only):\n$plan")
  }
}
