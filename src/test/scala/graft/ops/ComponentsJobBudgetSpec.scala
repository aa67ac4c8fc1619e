package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.jobsOf

/** Job budgets for the components kernel. Spark job counts are
  * deterministic for a fixed input and session configuration (unlike wall
  * time), so pinning them is a noise-free regression gate: an extra
  * convergence probe, a lost exchange reuse or a re-added label join shows
  * up here as a changed count. */
class ComponentsJobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("keepRepresentatives on a clustered corpus: job budget") {
    // 300 docs; clusters of 2–8 docs joined by non-transitive chains plus
    // one chord each, every fifth cluster left as singletons
    val bounds = Iterator.iterate(0L)(s => s + 2 + s % 7).takeWhile(_ < 300L).toSeq :+ 300L
    val clusters = bounds.zip(bounds.tail).zipWithIndex.collect { case (c, i) if i % 5 != 4 => c }
    val pairs = clusters.flatMap { case (lo, hi) =>
      (lo until hi - 1).map(i => (i, i + 1)) :+ ((lo, hi - 1))
    }.distinct
    val want = (0L until 300L).filterNot(d => clusters.exists { case (lo, hi) => d > lo && d < hi })
    val docs = (0L until 300L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val (kept, jobs) = jobsOf {
      graft.dedup.Dedup.keepRepresentatives(docs, "doc_id", pairs.toDF("id_a", "id_b"))
        .as[Long].collect().sorted.toSeq
    }
    assert(kept == want)
    assert(jobs == 6, s"keepRepresentatives ran $jobs jobs")
  }

  test("path split across eight partitions: job budget of a multi-round solve") {
    val n = 64L
    val ((labels, rounds), jobs) = TestSpark.withConf(TestSpark.eightPartitions: _*) {
      jobsOf {
        val (l, r) = Adjacency.connectedComponentsWithRounds(
          (0L until n).toDF("bid"), (0L until n - 1).map(i => (i, i + 1)).toDF("a", "b"))
        (l.as[(Long, Long)].collect().toMap, r)
      }
    }
    assert(labels == (0L until n).map(_ -> 0L).toMap)
    assert(rounds == 6, s"$rounds star rounds")
    assert(jobs == 52, s"connectedComponentsWithRounds ran $jobs jobs")
  }
}
