package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Exact duplicate-span detection: shared-gram marking, self-repeat
  * periodicity, the touch-vs-gap merge boundary (next.pos ≤ prev.pos + k),
  * and partitioning invariance at k = 8; exact interval unions of
  * cross-doc and overlapping within-doc repeats at k = 3. */
class SpanDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val docs = Seq(
    // shared 8-gram "a b c d e f g h" at pos 0 / pos 2
    (1L, "a b c d e f g h x y z"),
    (2L, "q r a b c d e f g h w"),
    // pure period-8 self-repeat: every window duplicated -> one full span
    (3L, ("m n o p s t u v " * 3).trim),
    // no duplicated 8-gram at all
    (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),
    // two dup windows 9 apart -> gap (9 > 8): two spans
    (5L, "a b c d e f g h J a b c d e f g h"),
    // two dup windows 8 apart -> touch (8 <= 8): one merged span
    (6L, "x a b c d e f g h a b c d e f g h"))

  test("spans on the hand fixture: sharing, self-repeat, merge boundary") {
    import spark.implicits._
    val out = SpanDedup.dupSpans(docs.toDF("doc_id", "text"), k = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    graft.CacheBin.drain()
    assert(out === Set(
      (1L, 0L, 7L, 8L),
      (2L, 2L, 9L, 8L),
      (3L, 0L, 23L, 24L),
      (5L, 0L, 7L, 8L), (5L, 9L, 16L, 8L),
      (6L, 1L, 16L, 16L)))
  }

  test("dupProfile rolls the span stream up per doc") {
    import spark.implicits._
    val out = SpanDedup.dupProfile(docs.toDF("doc_id", "text"), k = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    graft.CacheBin.drain()
    assert(out === Set(
      (1L, 1L, 8L, 8L), (2L, 1L, 8L, 8L), (3L, 1L, 24L, 24L),
      (5L, 2L, 16L, 8L), (6L, 1L, 16L, 16L)))
  }

  test("docs shorter than k produce no gram rows; result partitioning-invariant") {
    import spark.implicits._
    val withShort = (docs :+ (9L, "one two three")).toDF("doc_id", "text")
    val a = SpanDedup.dupSpans(withShort.repartition(1), k = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    graft.CacheBin.drain()
    val b = SpanDedup.dupSpans(withShort.repartition(11), k = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    graft.CacheBin.drain()
    assert(a === b)
    assert(!a.exists(_._1 == 9L))
  }

  /** dup_tokens per doc at k = 3: the size of the union of the duplicated
    * 3-token windows, since touching or overlapping windows merge into one
    * span. */
  private def dupTokens(rows: Seq[(Long, String)]): Map[Long, Long] = {
    import spark.implicits._
    val out = SpanDedup.dupProfile(rows.toDF("doc_id", "text"), k = 3)
      .select("doc_id", "dup_tokens").as[(Long, Long)].collect().toMap
    graft.CacheBin.drain()
    out
  }

  test("dup_tokens is the exact interval union on cross-doc duplicates") {
    // docs 1 and 2 share the 6-token run "c d e f g h" => duplicated
    // 3-grams at positions {2,3,4,5} in doc 1 and {1,2,3,4} in doc 2; the
    // union of those length-3 spans covers 6 tokens in each. doc 3 is
    // clean, doc 4 is shorter than k (no windows).
    assert(dupTokens(Seq(
      (1L, "a b c d e f g h"),
      (2L, "z c d e f g h w"),
      (3L, "nothing shared here at all"),
      (4L, "c d"))) === Map(1L -> 6L, 2L -> 6L))
  }

  test("dup_tokens counts within-doc repeats and unions overlaps exactly") {
    // doc 1: "x y z" at positions 0 and 5, disjoint spans => 3 + 3 = 6.
    // doc 2 windows: "x y x"(0) "y x y"(1) "x y x"(2) "y x y"(3) "x y z"(4);
    // the first two repeat inside doc 2 and "x y z" matches doc 1, so all
    // five overlapping windows are duplicated => the whole doc, 7 tokens.
    assert(dupTokens(Seq(
      (1L, "x y z q r x y z"),
      (2L, "x y x y x y z"),
      (3L, "completely unrelated filler text"))) === Map(1L -> 6L, 2L -> 7L))
  }
}
