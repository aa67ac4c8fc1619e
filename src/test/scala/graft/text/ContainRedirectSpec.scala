package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.dedup.Dedup
import graft.ops.UrlOps

/** Containment near-dup (Dedup.containmentPairs) + redirect-chain
  * resolution (UrlOps.resolveRedirects). */
class ContainmentSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def bruteContainment(docs: Seq[(Long, String)], n: Int,
      t: Double): Set[(Long, Long)] = {
    def sh(s: String) = s.split(" ").sliding(n).map(_.mkString(" ")).toSet
    (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      c = sh(ta).intersect(sh(tb)).size.toDouble /
        math.min(sh(ta).size, sh(tb).size)
      if c >= t
    } yield (a, b)).toSet
  }

  test("containmentPairs == scala brute force, incl. a low-Jaccard subset pair") {
    import spark.implicits._
    val host = (0 until 60).map(i => s"h$i").mkString(" ")
    val quote = (10 until 22).map(i => s"h$i").mkString(" ") // ⊂ host
    val docs = Seq(
      (1L, host),                                     // the long host page
      (2L, s"intro words $quote outro tail end"),     // quotes 12 tokens of it
      (3L, quote),                                    // the quote alone: FULL subset
      (4L, "alpha beta gamma delta epsilon zeta"),
      (5L, "alpha beta gamma delta epsilon eta"),     // high-Jaccard near-dup
      (6L, "totally unrelated text about nothing at all"))
    val got = Dedup.containmentPairs(docs.toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    graft.CacheBin.drain()
    val brute = bruteContainment(docs, 3, 0.7)
    assert(got === brute)
    // the defining case: (1,3) is a full subset (containment 1.0) whose
    // Jaccard is only 10/58 — jaccardPairsExact at 0.7 must MISS it
    assert(brute.contains((1L, 3L)))
    val jac = Dedup.jaccardPairsExact(docs.toDF("doc_id", "text"),
        "doc_id", "text", shingleN = 3, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    graft.CacheBin.drain()
    assert(!jac.contains((1L, 3L)))
    // (4,5): containment 3/4 = 0.75 passes, Jaccard 3/5 = 0.6 does not —
    // the second shape (symmetric near-dup) containment still catches
    assert(brute.contains((4L, 5L)) && !jac.contains((4L, 5L)))
  }

  test("containment boundary pair survives the min-side prefix filter exactly at t") {
    import spark.implicits._
    // A = 12 tokens -> 10 shingles, 7 shared -> containment 0.7 exactly
    val A = ((0 until 9).map(i => s"s$i") ++ Seq("x1", "x2", "x3")).mkString(" ")
    val B = ((0 until 9).map(i => s"s$i") ++ (0 until 30).map(i => s"y$i")).mkString(" ")
    val docs = Seq((1L, A), (2L, B)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", 0.7)
      .as[(Long, Long, Double)].collect()
    graft.CacheBin.drain()
    assert(got.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)),
      s"exact-threshold pair must survive: ${got.toSeq}")
    assert(math.abs(got.head._3 - 0.7) < 1e-9)
  }
}

class RedirectSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("resolveRedirects: chains + trees resolve to terminals with exact hops") {
    import spark.implicits._
    // chain 5->4->3->2->1->0 (terminal), tree 10,11 -> 12 -> 0-chain? keep
    // separate: 10->12, 11->12, 12->20 (terminal 20)
    val edges = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (1L, 0L),
      (10L, 12L), (11L, 12L), (12L, 20L)).toDF("src", "dst")
    val got = UrlOps.resolveRedirects(edges)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    val expect = Set(
      (5L, 0L, 5L, true), (4L, 0L, 4L, true), (3L, 0L, 3L, true),
      (2L, 0L, 2L, true), (1L, 0L, 1L, true),
      (10L, 20L, 2L, true), (11L, 20L, 2L, true), (12L, 20L, 1L, true))
    assert(got === expect)
  }

  test("pointer doubling: a 100-hop chain resolves within 8 rounds (2^8 >= 100)") {
    import spark.implicits._
    val edges = (1L to 100L).map(i => (i, i - 1)).toDF("src", "dst")
    // maxIters=8 would take 100 rounds under per-hop walking; doubling
    // needs ceil(log2(100))=7 (+1 confirm). If walking were per-hop, rows
    // would come back resolved=false here.
    val got = UrlOps.resolveRedirects(edges, maxIters = 8)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(got.forall(_._4), "all rows must be resolved within 8 doubling rounds")
    assert(got.forall(r => r._2 === 0L && r._3 === r._1))
  }

  test("loop quarantine: cycle members come back resolved=false, acyclic rows fine") {
    import spark.implicits._
    // 3-cycle 7->8->9->7 plus a clean chain 2->1->0
    val edges = Seq((7L, 8L), (8L, 9L), (9L, 7L), (2L, 1L), (1L, 0L))
      .toDF("src", "dst")
    val got = UrlOps.resolveRedirects(edges, maxIters = 4)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(got(2L) && got(1L), "acyclic rows resolve")
    assert(!got(7L) && !got(8L) && !got(9L), "cycle members are quarantined")
  }
}
