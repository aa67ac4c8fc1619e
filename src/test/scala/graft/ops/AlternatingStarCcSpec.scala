package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Alternating-star connected components vs in-JVM union-find: exact
  * labels on the graph shapes that defeat label propagation (high-diameter
  * snakes), diameter-independent round counts, and the loud guard. */
class AlternatingStarCcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] =
    UnionFindRef.labels(0L until n, edges)

  private def run(n: Long, edges: Seq[(Long, Long)], maxIter: Int = 30): (Map[Long, Long], Int) = {
    val (labels, rounds) = Adjacency.connectedComponentsWithRounds(
      (0L until n).toDF("bid"), edges.toDF("a", "b"), maxIter)
    (labels.as[(Long, Long)].collect().toMap, rounds)
  }

  test("high-diameter serpentine grid matches union-find in few rounds") {
    // a 40x5 serpentine corridor: diameter ~200 in graph hops — label
    // propagation would need ~200 rounds; alternating star stays single
    // digits (the regression that silently broke ε-graph DBSCAN at bench
    // scale)
    val w = 40L; val h = 5L
    def id(x: Long, y: Long) = y * w + x
    val edges = (for (y <- 0L until h; x <- 0L until w - 1) yield (id(x, y), id(x + 1, y))) ++
      (for (y <- 0L until h - 1) yield {
        val x = if (y % 2 == 0) w - 1 else 0L // snake turns
        (id(x, y), id(x, y + 1))
      })
    val (got, rounds) = run(w * h, edges)
    assert(got == unionFind(w * h, edges))
    assert(got.values.toSet.size == 1, "serpentine corridor is one component")
    assert(rounds <= 10, s"$rounds rounds on a diameter-~200 graph")
  }

  test("random multigraph with self-loops and duplicates matches union-find") {
    val n = 300L
    val edges = (0L until n).flatMap { i =>
      Seq((i, (i * 13 + 7) % n), ((i * 29 + 3) % n, (i * 29 + 3) % n), // self-loop
        (i % 17, (i * 13 + 7) % n)) ++ (if (i % 5 == 0) Seq((i, (i * 13 + 7) % n)) else Nil) // dup
    }
    val (got, _) = run(n, edges)
    assert(got == unionFind(n, edges))
  }

  test("many small components + isolated vertices label independently") {
    val n = 120L
    val edges = (0L until n).filter(_ % 3 != 2).map(i => (i, i - (i % 3))) // triples, every 3rd isolated... i%3==2 isolated
    val (got, _) = run(n, edges.filter(e => e._1 != e._2))
    assert(got == unionFind(n, edges))
  }

  test("empty edge set: every vertex is its own component, zero rounds") {
    val (got, rounds) = run(7L, Seq.empty)
    assert(got == (0L until 7L).map(i => i -> i).toMap)
    assert(rounds == 0)
  }

  test("incremental delta == full recompute (merges, new vertices, no-ops)") {
    val n = 200L
    val all = (0L until n).flatMap { i =>
      Seq((i, (i * 17 + 3) % n), (i % 23, (i * 31 + 5) % n))
    }
    // deterministic split: delta gets every 3rd edge PLUS edges to brand-new
    // vertices 300.. (unseen in the base labels)
    val base = all.zipWithIndex.collect { case (e, ix) if ix % 3 != 0 => e }
    val delta = all.zipWithIndex.collect { case (e, ix) if ix % 3 == 0 => e } ++
      (0L until 10L).map(i => (i * 19 % n, 300L + i)) ++
      Seq((399L, 399L)) // self-loop-only new vertex stays a singleton
    val labels0 = Adjacency.connectedComponents(
      (0L until n).toDF("bid"), base.toDF("a", "b"))
    val got = Adjacency.incrementalComponents(labels0, delta.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    val fullVerts = (0L until n) ++ (300L until 310L) :+ 399L
    val want = UnionFindRef.labels(fullVerts, base ++ delta)
    assert(got == want)
    assert(got(399L) == 399L)
  }

  test("empty delta returns the labels unchanged") {
    val labels0 = Adjacency.connectedComponents(
      (0L until 12L).toDF("bid"), Seq((0L, 1L), (5L, 6L)).toDF("a", "b"))
    val got = Adjacency.incrementalComponents(
      labels0, Seq.empty[(Long, Long)].toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got == labels0.as[(Long, Long)].collect().toMap)
  }

  test("round guard fails loudly instead of returning partial labels") {
    // the path must span partitions: in one partition the local union-find
    // pass solves it in zero rounds and the guard is never reached
    val n = 400L
    val edges = (0L until n - 1).map(i => (i, i + 1))
    TestSpark.withConf(TestSpark.eightPartitions: _*) {
      intercept[IllegalArgumentException] {
        Adjacency.connectedComponentsWithRounds(
          (0L until n).toDF("bid"), edges.toDF("a", "b"), maxIter = 1)
      }
    }
  }
}
