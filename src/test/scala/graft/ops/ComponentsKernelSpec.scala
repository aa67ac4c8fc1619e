package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The components kernel (local union-find pass + alternating-star rounds
  * + star-forest stop) against in-JVM union-find, on the adversarial graph
  * shapes, each at one partition and at eight uncoalesced partitions. */
class ComponentsKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic scramble of 0 until n, so component minima do not sit
    * at a path's end or a star's center. */
  private def scramble(n: Long)(i: Long): Long = (i * 37 + 11) % n

  private val shapes: Seq[(String, Long, Seq[(Long, Long)])] = {
    val rnd = new scala.util.Random(7)
    Seq(
      ("path", 60L, (0L until 59L).map(i => (scramble(60)(i), scramble(60)(i + 1)))),
      ("star", 41L, (0L until 41L).filter(_ != 17L).map(i => (17L, i))),
      ("giant component", 200L,
        Seq.fill(320)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))),
      ("clique clusters", 60L, for {
        c <- 0L until 10L; i <- 0L until 6L; j <- i + 1 until 6L
      } yield (scramble(60)(c * 6 + i), scramble(60)(c * 6 + j))),
      ("self-loops", 30L,
        (0L until 30L).map(i => (i, i)) ++ Seq((3L, 9L), (9L, 27L), (14L, 14L))),
      ("duplicate edges", 40L, (0L until 39L).filter(_ % 4 != 3).flatMap { i =>
        Seq((i, i + 1), (i + 1, i), (i, i + 1))
      }),
      ("empty input", 5L, Seq.empty),
      ("one edge", 4L, Seq((3L, 1L))))
  }

  private def run(n: Long, edges: Seq[(Long, Long)]) = {
    val (labels, rounds) = Adjacency.connectedComponentsWithRounds(
      (0L until n).toDF("bid"), edges.toDF("a", "b"))
    val (stars, starRounds) = Adjacency.componentStars(edges.toDF("a", "b"))
    (labels.as[(Long, Long)].collect().toMap, rounds,
      stars.as[(Long, Long)].collect().sorted.toSeq, starRounds)
  }

  for ((shape, n, edges) <- shapes; (layout, confs) <- Seq(
      "one partition" -> Seq("spark.sql.shuffle.partitions" -> "1"),
      "eight uncoalesced partitions" -> TestSpark.eightPartitions)) {
    test(s"$shape at $layout matches union-find") {
      val want = UnionFindRef.labels(0L until n, edges)
      val (labels, rounds, stars, starRounds) =
        TestSpark.withConf(confs: _*)(run(n, edges))
      assert(labels == want)
      assert(stars == want.filter { case (b, c) => b != c }.toSeq.sorted,
        "star edges = exactly the non-root vertices, each once, with its root")
      assert(starRounds == rounds)
      if (layout == "one partition")
        assert(rounds == 0, s"$rounds star rounds on a graph one partition holds")
    }
  }

  test("path at eight uncoalesced partitions needs star rounds") {
    val (_, n, edges) = shapes.head
    val (_, rounds, _, _) =
      TestSpark.withConf(TestSpark.eightPartitions: _*)(run(n, edges))
    assert(rounds >= 1, "the local pass alone cannot solve a path split 8 ways")
  }

  private def starForest(edges: (Long, Long)*): Boolean =
    Adjacency.isStarForest(edges.toDF("u", "v"))

  test("star-forest test accepts stars and rejects the two non-star shapes") {
    assert(starForest())
    assert(starForest((1L, 0L), (2L, 0L), (7L, 3L)))
    assert(!starForest((2L, 1L), (1L, 0L)), "two-hop chain 2 → 1 → 0")
    assert(!starForest((2L, 0L), (2L, 1L)), "node 2 with two parents")
    assert(starForest((1L, 0L), (1L, 0L)), "a duplicate row is still one parent")
  }
}
