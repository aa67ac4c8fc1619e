package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.geom.Pt
import graft.layers.{Building, SynthCadastre}

class AdjacencySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def square(bid: Long, cluster: Long, x0: Double, y0: Double, s: Double = 10.0) =
    Building(bid, cluster, 0L,
      Array(Pt(x0, y0), Pt(x0 + s, y0), Pt(x0 + s, y0 + s), Pt(x0, y0 + s)))

  test("adjacentPairs finds wall-sharing squares only") {
    import spark.implicits._
    val bs = spark.createDataset(Seq(
      square(0, 0, 0, 0), square(1, 0, 10, 0),   // share wall x=10
      square(2, 0, 30, 0),                        // isolated
      square(3, 0, 0, 10)))                       // shares wall y=10 with bid 0
    val pairs = Adjacency.adjacentPairs(bs).as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L), (0L, 3L)))
  }

  test("corner-touching squares are adjacent by shared vertex? No — segment required") {
    import spark.implicits._
    // diagonal neighbors share only the corner point, not a segment
    val bs = spark.createDataset(Seq(square(0, 0, 0, 0), square(1, 0, 10, 10)))
    assert(Adjacency.adjacentPairs(bs).count() === 0)
  }

  test("connectedComponents labels a chain with its min id") {
    import spark.implicits._
    val bs = spark.createDataset(Seq(
      square(5, 0, 0, 0), square(6, 0, 10, 0), square(7, 0, 20, 0),
      square(9, 0, 50, 50)))
    val comps = Adjacency.components(bs).as[(Long, Long)].collect().toMap
    assert(comps === Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 9L -> 9L))
  }

  test("alternating star: path graph converges in O(log diameter) rounds") {
    import spark.implicits._
    // path 0-1-...-63 (diameter 63): label propagation needs 63 rounds;
    // each alternating-star round roughly halves the path (large-star
    // rewires every node past its predecessor) — assert <= ceil(log2(63))+2.
    // Eight uncoalesced partitions keep the path split across partitions,
    // so the bound measures star rounds, not the local union-find pass
    val n = 64
    val vertices = (0L until n.toLong).toDF("bid")
    val edges = (0L until n.toLong - 1).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = TestSpark.withConf(TestSpark.eightPartitions: _*) {
      val (l, r) = Adjacency.connectedComponentsWithRounds(vertices, edges)
      (l.as[(Long, Long)].collect(), r)
    }
    val comps = labels.toMap
    assert(comps.size === n)
    assert(comps.values.forall(_ == 0L))
    val bound = math.ceil(math.log(n - 1.0) / math.log(2)).toInt + 2
    assert(rounds <= bound, s"$rounds rounds should be <= $bound (was O(diameter)=${n - 1})")
  }

  test("unionByComponent: touching squares union to one simplified rectangle") {
    import spark.implicits._
    val bs = spark.createDataset(Seq(
      square(0, 0, 0, 0), square(1, 0, 10, 0), square(2, 0, 20, 0)))
    val row = Adjacency.unionByComponent(bs).collect().head
    assert(row.getAs[Long]("comp") === 0L)
    assert(row.getAs[Long]("n_buildings") === 3L)
    assert(math.abs(row.getAs[Double]("union_area") - 300.0) < 1e-9)
    assert(row.getAs[Long]("n_vertices") === 4L)
  }

  test("unionByComponent keeps interior holes (donut of 8 squares)") {
    import spark.implicits._
    // 3x3 grid minus the center: union = 30x30 outer ring + 10x10 hole
    val bs = spark.createDataset(
      for {
        gy <- 0 to 2; gx <- 0 to 2
        if !(gx == 1 && gy == 1)
      } yield square((gy * 3 + gx).toLong, 0, gx * 10.0, gy * 10.0))
    val row = Adjacency.unionByComponent(bs).collect().head
    assert(row.getAs[Double]("union_area") === 900.0 + 100.0) // rings summed |outer|+|hole|
    assert(row.getAs[Long]("n_vertices") === 8L)               // 4 outer + 4 hole
  }

  test("greedyPack honors the cap with varied parts (vs scala reference)") {
    import spark.implicits._
    val parcels = Seq(
      (1L, 0L, 7L), (2L, 0L, 7L), (3L, 0L, 7L), // 7+7 fits, +7 exceeds 20 -> new tile at 3
      (4L, 0L, 20L),                            // exactly cap -> own tile
      (5L, 0L, 1L),
      (10L, 1L, 5L), (11L, 1L, 5L))             // separate zone restarts
      .toDF("parcel_id", "zone", "parts")
    val got = Adjacency.greedyPack(parcels, cap = 20)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // trace: 7,7 -> tile0(14); 7 would reach 21 -> tile1(7); 20 -> tile2(20,
    // full); 1 -> tile3. Zone 1 restarts at tile0.
    assert(got === Seq(
      (1L, 0L, 0L), (2L, 0L, 0L), (3L, 0L, 1L), (4L, 0L, 2L), (5L, 0L, 3L),
      (10L, 1L, 0L), (11L, 1L, 0L)))
  }
}

class ConjoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("moveAddress snaps outside point to the nearest wall") {
    import spark.implicits._
    val b = spark.createDataset(Seq(
      Building(1L, 0L, 0L, Array(Pt(0, 0), Pt(10, 0), Pt(10, 10), Pt(0, 10)))))
    val addr = Seq((1L, -3.0, 4.0), (1L, 5.0, 12.5)).toDF("bid", "px", "py")
    val got = Conjoin.moveAddress(addr, b)
      .as[(Long, Double, Double, Double)].collect().sortBy(_._3).toSeq
    assert(got === Seq((1L, 0.0, 4.0, 9.0), (1L, 5.0, 10.0, 6.25)))
  }

  test("inside point snaps to the closest wall too") {
    import spark.implicits._
    val b = spark.createDataset(Seq(
      Building(1L, 0L, 0L, Array(Pt(0, 0), Pt(10, 0), Pt(10, 10), Pt(0, 10)))))
    val addr = Seq((1L, 1.0, 5.0)).toDF("bid", "px", "py")
    val got = Conjoin.moveAddress(addr, b)
      .as[(Long, Double, Double, Double)].collect().head
    assert(got === ((1L, 0.0, 5.0, 1.0)))
  }
}

class PagesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("extraction invariant holds on the synthesized pages table") {
    val pages = graft.sources.Pages.fromDocuments(spark, TestSpark.sf001)
    val row = graft.sources.Pages.invariantCheck(pages).collect().head
    assert(row.getAs[Long]("n_total") === row.getAs[Long]("n_match"))
    assert(row.getAs[Long]("n_total") > 0)
  }

  test("a corrupted html byte breaks the invariant (the check is real)") {
    import org.apache.spark.sql.functions._
    val pages = graft.sources.Pages.fromDocuments(spark, TestSpark.sf001)
      .withColumn("html",
        when(col("url").endsWith("/7"), encode(lit("<html>junk</html>"), "utf-8"))
          .otherwise(col("html")))
    val row = graft.sources.Pages.invariantCheck(pages).collect().head
    assert(row.getAs[Long]("n_match") === row.getAs[Long]("n_total") - 1)
  }
}
