package graft.spatial

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.TestSpark
import graft.TestSpark.jobsOf

/** Job budgets for the three DBSCAN plans on one fixed 150-point cloud.
  * On inputs this small the Spark job count, not the data, sets the run
  * time, so a plan's job count is pinned where it repeated exactly in 40
  * runs beside four busy loops; elsewhere the three plans are only checked
  * to agree on the rows. */
class DbscanJobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Two 60-point hot spots joined by a 10-point bridge, plus 20 points
    * of scattered noise. */
  private def cloud: DataFrame = {
    import spark.implicits._
    val hot = for {
      (hx, hy, base) <- Seq((0.0, 0.0, 100L), (3.0, 0.0, 300L))
      i <- 0 until 60
    } yield (base + i, hx + (i % 8) * 0.02, hy + (i / 8) * 0.02)
    val bridge = (0 until 10).map(i => (900L + i, 0.3 + i * 0.27, 0.07))
    val noise = (0 until 20).map(i => (1000L + i, 20.0 + (i * 37 % 11) * 3.1, 20.0 + i * 2.3))
    (hot ++ bridge ++ noise).toDF("id", "x", "y")
  }

  private val plans: Seq[(String, DataFrame => DataFrame)] = Seq(
    "dbscan" -> (p => Dbscan.dbscan(p, 0.5, 5)),
    "dbscanDense" -> (p => Dbscan.dbscanDense(p, 0.5, 5)),
    "dbscanDense(forceContraction)" -> (p => Dbscan.dbscanDense(p, 0.5, 5, forceContraction = true)))

  private val settings: Seq[(String, Seq[(String, String)])] = Seq(
    "one shuffle partition" -> Seq("spark.sql.shuffle.partitions" -> "1"),
    "eight partitions" -> TestSpark.eightPartitions)

  /** Rows and the Spark jobs one plan starts to produce them. */
  private def run(plan: DataFrame => DataFrame): (Set[(Long, String, Long)], Int) = {
    import spark.implicits._
    val pts = cloud
    val out = jobsOf(plan(pts).as[(Long, String, Long)].collect().toSet)
    graft.CacheBin.drain()
    out
  }

  /** Jobs per (plan, setting), the same in every one of 40 loaded runs.
    * The other cases vary from run to run: at one shuffle partition
    * dbscan ran 22 or 23 jobs, dbscanDense 49 or 50 and its forced
    * contraction 44 to 46; at eight partitions dbscanDense ran 52 or 53
    * and its forced contraction 47 or 48. They carry no budget. */
  private val budgets: Map[(String, String), Int] = Map(
    ("dbscan", "eight partitions") -> 24)

  for ((setting, conf) <- settings) test(s"job budgets at $setting") {
    TestSpark.withConf(conf: _*) {
      val runs = plans.map { case (name, plan) => name -> run(plan) }
      val rows = runs.map(_._2._1)
      assert(rows.forall(_ == rows.head), "the three plans disagree")
      val roles = rows.head.toSeq.groupBy(_._2).map { case (r, xs) => r -> xs.size }
      assert(roles == Map("core" -> 123, "border" -> 2, "noise" -> 25), roles)
      for ((name, (_, jobs)) <- runs; budget <- budgets.get((name, setting)))
        assert(jobs == budget, s"$name at $setting ran $jobs jobs")
    }
  }
}
