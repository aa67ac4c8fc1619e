package graft.spatial

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.sources.Layout

/** Z-order bbox range decomposition: exactness at full budget, lossless
  * coarsening under a budget, and the storage contract — the intervals
  * reach a Layout-clustered parquet scan as pushed filters and prune both
  * directories and rows. */
class ZRangeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("compact inverts Morton.spread on both axes") {
    val samples = Seq(0L, 1L, 2L, 3L, 17L, 12345L, (1L << 30) - 1, 0x2AAAAAAAL)
    for (ix <- samples; iy <- samples.take(4)) {
      val m = Morton.morton(ix, iy)
      assert(ZRange.compact(m) == ix, s"x of morton($ix,$iy)")
      assert(ZRange.compact(m >> 1) == iy, s"y of morton($ix,$iy)")
    }
  }

  private def cellsIn(ranges: Seq[(Long, Long)], bits: Int): Set[(Long, Long)] =
    (0L until (1L << bits)).flatMap { ix =>
      (0L until (1L << bits)).flatMap { iy =>
        val m = Morton.morton(ix, iy)
        if (ranges.exists { case (lo, hi) => m >= lo && m <= hi }) Some((ix, iy))
        else None
      }
    }.toSet

  test("full-budget cover is EXACT: key in ranges iff cell in bbox") {
    val bits = 5 // 32x32 grid, brute-enumerable
    val (x0, x1, y0, y1) = (3L, 17L, 6L, 22L)
    val ranges = ZRange.bboxRanges(x0, x1, y0, y1, bits, maxRanges = Int.MaxValue)
    val want = (for (ix <- x0 to x1; iy <- y0 to y1) yield (ix, iy)).toSet
    assert(cellsIn(ranges, bits) == want)
    // sorted, disjoint, coalesced (no two ranges touch)
    ranges.sliding(2).foreach {
      case Seq((_, h1), (l2, _)) => assert(l2 > h1 + 1, s"uncoalesced: $h1 | $l2")
      case _ =>
    }
  }

  test("budgeted cover: bounded count, never drops a bbox cell") {
    val bits = 5
    val (x0, x1, y0, y1) = (3L, 17L, 6L, 22L)
    val ranges = ZRange.bboxRanges(x0, x1, y0, y1, bits, maxRanges = 8)
    assert(ranges.size <= 8, s"budget blown: ${ranges.size}")
    val want = (for (ix <- x0 to x1; iy <- y0 to y1) yield (ix, iy)).toSet
    val got = cellsIn(ranges, bits)
    assert(want.subsetOf(got), "budgeted cover dropped bbox cells")
    // and the budget actually coarsened (more cells than the exact cover)
    assert(got.size >= want.size)
  }

  test("degenerate bboxes: single cell, single row, full grid") {
    val one = ZRange.bboxRanges(9, 9, 4, 4, bits = 5, maxRanges = Int.MaxValue)
    assert(one == Seq((Morton.morton(9, 4), Morton.morton(9, 4))))
    val full = ZRange.bboxRanges(0, 31, 0, 31, bits = 5, maxRanges = Int.MaxValue)
    assert(full == Seq((0L, (1L << 10) - 1)))
    val row = ZRange.bboxRanges(0, 31, 7, 7, bits = 5, maxRanges = Int.MaxValue)
    assert(cellsIn(row, 5) == (0L to 31L).map((_, 7L)).toSet)
  }

  test("coarseQuads contains every quad any range touches") {
    val ranges = ZRange.bboxRanges(3, 17, 6, 22, bits = 5, maxRanges = 16)
    val quads = ZRange.coarseQuads(ranges, bits = 5, quadBits = 2).toSet
    ranges.foreach { case (lo, hi) =>
      (lo to hi).foreach(m => assert(quads.contains(m >> 6)))
    }
  }

  test("clustered storage: ranges push down, prune dirs and rows, lose nothing") {
    TestSpark.withTempDir("zrange") { tmp =>
      val bits = 10 // 1024x1024 grid
      val dir = tmp.toString + "/t"
      val pts = spark.range(60000).select(
        col("id"),
        (col("id") * 7919 % 1024).as("ix"),
        (col("id") * 104729 % 1024).as("iy"))
        .withColumn("m", Morton.mortonCol(col("ix"), col("iy")))
        .withColumn("pq", shiftright(col("m"), 2 * (bits - 1))) // 4 top quads
      Layout.writeClustered(pts, "m", "pq", dir, n = 8)

      val (x0, x1, y0, y1) = (100L, 350L, 80L, 300L) // upper-left region
      val ranges = ZRange.bboxRanges(x0, x1, y0, y1, bits, maxRanges = 64)
      val quads = ZRange.coarseQuads(ranges, bits, quadBits = 1)
      val scan = Layout.readClustered(spark, dir)
        .where(col("pq").isin(quads: _*))
        .where(ZRange.rangesPredicate(col("m"), ranges))
        .where(col("ix").between(x0, x1) && col("iy").between(y0, y1))

      val plan = scan.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("pq"),
        s"no partition filter in:\n$plan")
      // the PushedFilters display truncates the long Or tree, so assert the
      // pushed prefix plus the interval comparisons on the key column
      assert(plan.contains("Or(And(GreaterThan") || plan.contains("GreaterThanOrEqual(m,"),
        s"morton intervals not pushed to parquet in:\n$plan")
      assert("m#\\d+L >= ".r.findFirstIn(plan).isDefined,
        s"no interval comparison on the morton column in:\n$plan")

      val got = scan.select("id").as[Long].collect().sorted
      val want = spark.range(60000).select(col("id"),
        (col("id") * 7919 % 1024).as("ix"), (col("id") * 104729 % 1024).as("iy"))
        .where(col("ix").between(x0, x1) && col("iy").between(y0, y1))
        .select("id").as[Long].collect().sorted
      assert(got.nonEmpty && got.sameElements(want))

      // directory pruning: the bbox sits in one top-level quad
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
        df.collect()
        leaves(df.queryExecution.executedPlan)
          .flatMap(_.metrics.get("numFiles").map(_.value)).sum
      }
      val nAll = filesRead(Layout.readClustered(spark, dir))
      val nPruned = filesRead(scan)
      assert(nPruned > 0 && nPruned < nAll,
        s"expected directory pruning: $nPruned of $nAll files")
    }
  }
}
