package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Clustered-layout scan pruning: a range predicate on the cluster key
  * must (a) show up as PartitionFilters + PushedFilters in the scan,
  * (b) open only the matching directories, and (c) return exactly the
  * right rows — pruning is a plan property AND a correctness no-op. */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // each test writes its own clustered table into a scratch directory
  // that is deleted when the test ends
  private def written(dir: String): Boolean = {
    // 40k rows over cells 0..1023; coarse partition = cell >> 7 (8 dirs)
    val df = spark.range(40000).select(
      (col("id") % 1024).as("cell"),
      ((col("id") % 1024) / 128).cast("int").as("part"),
      col("id").as("payload"))
    Layout.writeClustered(df, "cell", "part", dir, n = 8)
    true
  }

  test("partition + pushed filters prune; results exact") {
    TestSpark.withTempDir("layout") { tmp =>
      val dir = tmp.toString + "/t"
      assert(written(dir))
      val scan = Layout.readClustered(spark, dir)
        .filter(col("part") === 2 && col("cell").between(300, 320))
      val plan = scan.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("part"),
        s"no partition filter in:\n$plan")
      assert(plan.contains("GreaterThanOrEqual(cell,300"),
        s"range not pushed to parquet in:\n$plan")
      // correctness: same rows as the unclustered original predicate
      val got = scan.agg(count(lit(1)), sum("payload")).as[(Long, Long)].head()
      val want = spark.range(40000)
        .select((col("id") % 1024).as("cell"), col("id").as("payload"))
        .filter(col("cell").between(300, 320) &&
          (col("cell") / 128).cast("int") === 2)
        .agg(count(lit(1)), sum("payload")).as[(Long, Long)].head()
      assert(got._1 > 0 && got == want)
    }
  }

  test("only matching directories are read (file-level pruning)") {
    TestSpark.withTempDir("layout") { tmp =>
      val dir = tmp.toString + "/t"
      assert(written(dir))
      val all = Layout.readClustered(spark, dir)
      val pruned = all.filter(col("part") === 3)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case _ => p.collectLeaves().flatMap {
          case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
          case l => Seq(l)
        }
      }
      def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect() // execute so scan metrics populate
        leaves(df.queryExecution.executedPlan)
          .flatMap(_.metrics.get("numFiles").map(_.value)).sum
      }
      val nAll = filesRead(all)
      val nPruned = filesRead(pruned)
      assert(nPruned > 0 && nPruned < nAll,
        s"expected directory pruning: $nPruned of $nAll files")
    }
  }

  test("in-file clustering keeps row groups tight (sorted layout)") {
    TestSpark.withTempDir("layout") { tmp =>
      val dir = tmp.toString + "/t"
      assert(written(dir))
      // each written file must hold a contiguous cell range: per-file
      // (max-min+1) == distinct cells in it (range clustering + sort)
      val perFile = spark.read.parquet(dir)
        .select(input_file_name().as("f"), col("cell"))
        .groupBy("f")
        .agg((max("cell") - min("cell") + 1).as("span"),
          countDistinct("cell").as("nd"))
        .as[(String, Long, Long)].collect()
      assert(perFile.nonEmpty)
      perFile.foreach { case (f, span, nd) =>
        assert(span == nd, s"file $f covers a gapped range: span=$span nd=$nd")
      }
    }
  }
}
