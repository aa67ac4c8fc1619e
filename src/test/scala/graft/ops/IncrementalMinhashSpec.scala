package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.dedup.Dedup
import graft.sources.Bucketed

/** Incremental MinHash near-dup against the bucketed band/sets index:
  * result parity with the one-shot minhashNearDups over the full corpus
  * (restricted to pairs touching the batch), plus the plan contract — the
  * corpus-sized index tables are read join-ready, with zero shuffle above
  * either index scan. */
class IncrementalMinhashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // docs with planted near-dup structure: base texts repeated with small
  // perturbations, so one-shot LSH and exact Jaccard agree (the corpus-
  // level contract q_dedup_minhash re-proves every round)
  private def mkDocs(ids: Seq[Long], variantOf: Long => Int): DataFrame = {
    val bases = Array(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4,
      "one two three four five six seven eight nine ten eleven twelve " * 4,
      "red orange yellow green blue indigo violet cyan magenta lime " * 4)
    ids.map { i =>
      val b = bases((variantOf(i) % 3 + 3) % 3).trim.split(" ")
      // perturb one token deterministically per id so pairs are NEAR dups
      val tweaked = b.updated((i % b.length).toInt, s"tok$i")
      (i, tweaked.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("index probe == one-shot near-dups restricted to batch pairs") {
    val corpusIds = (0L until 30L)
    val batchIds = (100L until 115L)
    val corpus = mkDocs(corpusIds, i => i.toInt)
    val batch = mkDocs(batchIds, i => i.toInt) // same 3 families -> cross dups
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", "mh_spec_idx", 4)
    val got = Dedup.incrementalNearDups(batch, "doc_id", "text", "mh_spec_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet

    val all = Dedup.minhashNearDups(corpus.unionByName(batch), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => batchIds.contains(a) || batchIds.contains(b) }
      .map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet

    assert(got.nonEmpty, "planted near-dups must surface")
    assert(got === all)
    // cross pairs are oriented corpus-id-first
    val cross = Dedup.incrementalNearDups(batch, "doc_id", "text", "mh_spec_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => !(batchIds.contains(a) && batchIds.contains(b)) }
    assert(cross.forall { case (a, b) => corpusIds.contains(a) && batchIds.contains(b) })
  }

  test("rolling ingest: appended batch is visible to the next probe") {
    val corpus = mkDocs(0L until 20L, i => 0) // family-0 docs only
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", "mh_roll_idx", 4)
    val batch1 = mkDocs(Seq(300L), _ => 1) // family 1: no corpus match
    assert(Dedup.incrementalNearDups(batch1, "doc_id", "text", "mh_roll_idx")
      .count() === 0)
    Dedup.appendMinhashIndex(batch1, "doc_id", "text", "mh_roll_idx")
    // batch2 is family 1 again -> must now near-match the appended 300L
    val batch2 = mkDocs(Seq(400L), _ => 1)
    val got = Dedup.incrementalNearDups(batch2, "doc_id", "text", "mh_roll_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((300L, 400L)))
  }

  // n copies of one text: every band bucket is exactly n documents wide,
  // so the 64-document band cap keeps all C(n,2) pairs up to n = 64 and
  // drops every bucket (and so every pair) at n = 65
  private def copies(n: Int, from: Long): DataFrame =
    (0 until n).map(i => (from + i, "the quick brown fox jumps over it")).toDF("doc_id", "text")

  private def pairsAtOne(pairs: DataFrame): Set[(Long, Long)] = {
    val rows = pairs.as[(Long, Long, Double)].collect()
    graft.CacheBin.drain()
    assert(rows.forall(_._3 == 1.0), rows.toSeq.take(3))
    rows.map(r => (r._1, r._2)).toSet
  }

  test("band cap boundary: 64 identical docs pair up, 65 pair none (one-shot)") {
    assert(pairsAtOne(Dedup.minhashNearDups(copies(64, 0L), "doc_id", "text")).size === 2016)
    assert(pairsAtOne(Dedup.minhashNearDups(copies(65, 0L), "doc_id", "text")).isEmpty)
  }

  test("band cap boundary: 64 identical docs pair up, 65 pair none (in-batch)") {
    // a one-doc corpus sharing no shingle with the batch: every pair is in-batch
    Dedup.writeMinhashIndex(Seq((-1L, "red green blue cyan magenta")).toDF("doc_id", "text"),
      "doc_id", "text", "mh_cap_idx", 2)
    assert(pairsAtOne(Dedup.incrementalNearDups(copies(64, 1000L), "doc_id", "text", "mh_cap_idx"))
      .size === 2016)
    assert(pairsAtOne(Dedup.incrementalNearDups(copies(65, 1000L), "doc_id", "text", "mh_cap_idx"))
      .isEmpty)
  }

  test("zero shuffle above either corpus index scan") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the sort-merge path the bucketing exists for
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val corpus = mkDocs(0L until 40L, i => i.toInt)
      val batch = mkDocs(200L until 210L, i => i.toInt)
      Dedup.writeMinhashIndex(corpus, "doc_id", "text", "mh_spec_idx2", 4)
      val out = Dedup.incrementalNearDups(batch, "doc_id", "text", "mh_spec_idx2")
      out.collect()
      for (tbl <- Seq("mh_spec_idx2_bands", "mh_spec_idx2_sets")) {
        assert(Bucketed.shufflesAboveScan(out, tbl) === 0,
          s"index table $tbl must join exchange-free; plan:\n${out.queryExecution.executedPlan}")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
