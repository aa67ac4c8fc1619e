package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.{CacheBin, TestSpark}
import graft.TestSpark.jobsOf

/** Job budgets for the exact prefix-filter pair joins, in the style of
  * ComponentsJobBudgetSpec: a fixed fixture and session give a fixed Spark
  * job count, so a recomputed shingle table, a second prefix pipeline or a
  * lost exchange reuse shows up as a changed count, free of wall-time
  * noise. The result is checked against a brute-force scan as well. */
class PairJobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet")

  /** Distinct 3-token shingles (short documents: the whole text). */
  private def shingles(t: String): Set[String] =
    t.split(" ").toSeq.sliding(3).map(_.mkString(" ")).toSet

  private lazy val sets: Seq[(Long, Set[String])] =
    docs.select("doc_id", "text").as[(Long, String)].collect().toSeq
      .map { case (id, t) => id -> shingles(t) }

  private def brute(score: (Set[String], Set[String]) => Double, t: Double) =
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      s = score(sa, sb) if s >= t
    } yield (a, b)).toSet

  /** Pairs of `pairsOf(docs)` and the jobs they take on a drained cache. */
  private def measured(pairsOf: DataFrame => DataFrame) = {
    val d = docs
    CacheBin.drain(blocking = true)
    try jobsOf(pairsOf(d).select("id_a", "id_b").as[(Long, Long)].collect().toSet)
    finally CacheBin.drain(blocking = true)
  }

  private def jaccardPairs(t: Double) = brute((a, b) => (a & b).size.toDouble / (a | b).size, t)

  test("jaccardPairsExact at sf0.001: job budget") {
    // sf0.001's shingle table fits the one-task arm; a -1 broadcast
    // threshold forces the distributed plan this budget pins
    val (pairs, jobs) = TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(
      measured(Dedup.jaccardPairsExact(_, "doc_id", "text", 3, 0.6)))
    val want = jaccardPairs(0.6)
    assert(want.nonEmpty)
    assert(pairs == want)
    assert(jobs == 15, s"jaccardPairsExact ran $jobs jobs")
  }

  test("jaccardPairsExact at sf0.001, one-task arm: job budget") {
    val (pairs, jobs) = measured(Dedup.jaccardPairsExact(_, "doc_id", "text", 3, 0.6))
    assert(pairs == jaccardPairs(0.6))
    // two jobs: one builds the cached shingle table whose bytes choose
    // the arm, then the coalesced cache scan, the in-memory join and the
    // verify filter run as one task
    assert(jobs == 2, s"jaccardPairsExact ran $jobs jobs")
  }

  test("containmentPairs at sf0.001: job budget") {
    val (pairs, jobs) = measured(Dedup.containmentPairs(_, "doc_id", "text", 0.7))
    val want = brute((a, b) => (a & b).size.toDouble / math.min(a.size, b.size), 0.7)
    assert(want.nonEmpty)
    assert(pairs == want)
    assert(jobs == 13, s"containmentPairs ran $jobs jobs")
  }
}
