package graft.dedup

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, split}
import org.apache.spark.sql.types.{IntegerType, StructType}
import graft.{CacheBin, TestSpark}

/** Dedup.jaccardPairsExact has a one-task arm (a shingle table within the
  * broadcast threshold) and a distributed arm. Each input here runs twice,
  * as is and with a -1 broadcast threshold, and the two runs must give the
  * same rows (as a multiset) and the same schema. Each run also shows
  * which arm it took: the one-task arm persists its shingle table only,
  * the distributed arm its shingle table and its prefix. */
class JaccardArmsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(docs: DataFrame, t: Double): (Seq[Row], StructType, Int) = {
    CacheBin.drain(blocking = true)
    try {
      val q = Dedup.jaccardPairsExact(docs, "doc_id", "text", 3, t)
      (q.collect().toSeq.sortBy(_.toString), q.schema, CacheBin.size)
    } finally CacheBin.drain(blocking = true)
  }

  /** Both arms' rows on `docs` at threshold `t`, asserted equal; returns them. */
  private def bothArms(docs: DataFrame, t: Double = 0.6): Seq[Row] = {
    val (local, localSchema, localHeld) = run(docs, t)
    val (dist, distSchema, distHeld) =
      TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(run(docs, t))
    assert(localHeld == 1, "the one-task arm persists its shingle table only")
    assert(distHeld == 2, "the distributed arm persists its shingle table and prefix")
    assert(localSchema == distSchema)
    assert(local == dist)
    local
  }

  private def words(from: Int, until: Int) = (from until until).map(i => s"w$i").mkString(" ")

  test("the arm is chosen by the bytes of the materialized shingle table") {
    val docs = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet")
    val sets = docs.select(col("doc_id").as("id"), graft.functions.ShingleHash64Expr
      .shingleHash64(split(col("text"), " "), 3).as("shs"))
    // the optimizer's guess from the file size and default column widths,
    // then the bytes the cached table holds
    val guess = sets.queryExecution.optimizedPlan.stats.sizeInBytes
    val held = sets.persist()
    held.count()
    val bytes = held.select("*").queryExecution.optimizedPlan.stats.sizeInBytes
    held.unpersist(blocking = true)
    assert(guess < bytes - 1, s"estimate $guess, cached $bytes")
    def persisted(budget: BigInt) =
      TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold" -> budget.toString)(
        run(docs, 0.6)._3)
    assert(persisted(bytes) == 1, "a table within the budget takes the one-task arm")
    assert(persisted(bytes - 1) == 2, "a table over the budget takes the distributed arm")
  }

  test("sf0.001 and sf0.01 documents") {
    for (sf <- Seq(TestSpark.sf001, TestSpark.sf01))
      assert(bothArms(spark.read.parquet(s"$sf/documents.parquet")).nonEmpty)
  }

  test("threshold boundaries: the size bound and the prefix length") {
    val size = Seq((1L, words(0, 13)), (2L, words(0, 22))).toDF("doc_id", "text")
    val prefix = Seq((1L, words(0, 102)), (2L, words(45, 102))).toDF("doc_id", "text")
    for (docs <- Seq(size, prefix))
      assert(bothArms(docs, 0.55).map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L)))
  }

  test("null text, one- and two-token texts") {
    val docs = Seq[(Long, String)]((1L, null), (2L, "w0"), (3L, "w0 w1"), (4L, "w1 w0"),
      (5L, words(0, 8)), (6L, words(0, 9)), (7L, null)).toDF("doc_id", "text")
    val pairs = bothArms(docs).map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs == Seq((5L, 6L)))
  }

  test("empty input and a single row") {
    assert(bothArms(Seq.empty[(Long, String)].toDF("doc_id", "text")).isEmpty)
    assert(bothArms(Seq((1L, words(0, 10))).toDF("doc_id", "text")).isEmpty)
  }

  test("duplicate ids: merged lists ranked and sized, every row verified") {
    val docs = Seq[(Long, String)](
      (1L, words(0, 20)), (1L, words(0, 19) + " x"), (2L, words(0, 20)),
      (3L, words(1, 21)), (3L, null), (3L, words(0, 20)), (4L, words(40, 60)),
      (4L, words(40, 60)), (5L, null), (5L, words(70, 90)), (6L, null),
      (6L, words(70, 90))).toDF("doc_id", "text")
    val rows = bothArms(docs)
    // ids 5 and 6 pair once, through their shared text: their two null
    // rows are no pair (size(null) = -1 once gave them a Jaccard of 1.0)
    assert(rows.count(r => r.getLong(0) == 5L && r.getLong(1) == 6L) == 1)
    assert(rows.exists(_.getLong(0) < 5L))
  }

  test("an int id column keeps its type") {
    val docs = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet")
      .select(col("doc_id").cast("int").as("doc_id"), col("text"))
    val rows = bothArms(docs)
    assert(rows.nonEmpty)
    assert(rows.head.schema("id_a").dataType == IntegerType)
  }

  test("a document table split over 8 partitions") {
    TestSpark.withConf(TestSpark.eightPartitions: _*) {
      val docs = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet").repartition(8)
      assert(docs.rdd.getNumPartitions == 8)
      assert(bothArms(docs).nonEmpty)
    }
  }

  test("random small corpora with duplicate and null ids and texts") {
    val text = Gen.frequency(1 -> Gen.const(null: String), 9 -> Gen.chooseNum(0, 12)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" "))))
    val id = Gen.frequency(1 -> Gen.const(null: java.lang.Long),
      9 -> Gen.chooseNum(0L, 9L).map(java.lang.Long.valueOf))
    val corpus = Gen.chooseNum(0, 14).flatMap(n => Gen.listOfN(n, Gen.zip(id, text)))
    val params = SCTest.Parameters.default.withMinSuccessfulTests(12)
    val r = SCTest.check(params, Prop.forAll(corpus, Gen.oneOf(0.3, 0.5, 0.6, 0.8, 1.0)) {
      (rows, t) => bothArms(rows.toDF("doc_id", "text"), t); true
    })
    assert(r.passed, r.status.toString)
  }
}
