package graftbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._
import graft.CacheBin
import graft.dedup.Dedup
import graft.text.TextFns
import Workload._

/** Web-corpus cleaning: the q_corpus_clean chain (length floor, language
  * id, repetition cap, exact-Jaccard pairs, one survivor per cluster,
  * token counts) over documents with planted near-duplicate clusters.
  *
  * Construction makes the survivor set exact:
  *  - body words are globally unique pseudo-words of at least four letters
  *    (no lexicon word has more than three), with an English lexicon word
  *    at every fourth position, so no two lexicon words are adjacent and
  *    every 3-shingle holds a pseudo-word owned by one cluster;
  *  - a cluster is a base document plus variants with j body words
  *    replaced; j <= S/13 for S shingles keeps Jaccard >= (S-3j)/(S+3j)
  *    > 0.6 to the base, so each cluster is one component;
  *  - 30% of the clusters (seeded which) end in one of four shared
  *    boilerplate blocks: those shingles are shared across clusters (the
  *    candidate join's multiplicity), but at most 10 of >= 40, so
  *    unrelated pairs stay far below 0.6;
  *  - dropped documents are short (< 100 chars), non-English (lexicon
  *    words of one other language only) or spam (one phrase repeated, so
  *    most 2-grams repeat).
  * Cluster sizes are heavy-tailed (Pareto). Survivors are the minimum
  * doc_id of every English cluster, with the cluster's token count.
  */
object Corpus extends Workload {
  val name = "corpus"
  val version = 3
  val size = 2500L

  private val en = Seq("the", "and", "of", "to", "a", "in", "is")
  private val other = Seq(
    Seq("el", "que", "y", "es"), Seq("le", "et", "un", "est"),
    Seq("der", "die", "und", "das", "ist", "ein", "zu"), Seq("的", "是", "了", "在"))

  /** Unique pseudo-word for n >= 0: base-26 letters of n + 26^3. */
  private def word(n: Long): String = {
    var v = n + 17576L; val sb = new StringBuilder
    while (v > 0) { sb.append(('a' + (v % 26)).toChar); v /= 26 }
    sb.reverse.toString
  }

  def generate(spark: SparkSession, dir: String, seed: Long, n: Long): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    var next = 0L
    def fresh(): String = { next += 1; word(next) }
    val boiler = Seq.fill(4)(Seq.fill(12)(fresh()))
    val boilerShare = 0.3
    val docs = ArrayBuffer[Seq[String]]() // token lists, in generation order
    val clusters = ArrayBuffer[Seq[Int]]() // indexes into docs, English only
    def english(len: Int): Seq[String] =
      (0 until len).map(i => if (i % 4 == 2) en((i / 4) % en.size) else fresh())
    // Pareto(alpha = 1.2) cluster sizes, capped at 150, at the middle of
    // equal-probability strata (seeded jitter of a tenth of a stratum): the
    // tail is heavy within a run, but the largest clusters, which set the
    // candidate join's work and its hot keys, have nearly the same sizes
    // under every seed
    val nClusters = (n / 5).toInt
    for (i <- 0 until nClusters) {
      val u = (i + 0.45 + 0.1 * rnd.nextDouble()) / nClusters
      val sz = math.min(150, math.floor(math.pow(1.0 - u, -1.0 / 1.2)).toInt)
      // the largest clusters set most of the candidate join's work; their
      // lengths vary less, so the work does not swing from seed to seed
      val body = english(if (sz >= 20) 60 + rnd.nextInt(31) else 30 + rnd.nextInt(90))
      val base = if (rnd.nextDouble() < boilerShare) body ++ boiler(rnd.nextInt(4)) else body
      val s = base.size - 2
      val slots = body.indices.filter(_ % 4 != 2)
      val members = base +: Seq.fill(sz - 1) {
        val swap = rnd.shuffle(slots).take(rnd.nextInt(s / 13 + 1)).toSet
        base.indices.map(i => if (swap(i)) fresh() else base(i))
      }
      clusters += members.indices.map(_ + docs.size)
      docs ++= members
    }
    for (i <- 0 until (n * 0.22).toInt) (i % 11) match {
      case 0 | 1 | 2 => // short
        docs += english(3 + rnd.nextInt(6))
      case 3 | 4 | 5 | 6 | 7 => // another language
        val lex = other(rnd.nextInt(other.size))
        docs += (0 until 30 + rnd.nextInt(60)).map(i =>
          if (i % 4 == 2) lex((i / 4) % lex.size) else fresh())
      case _ => // spam
        val phrase = Seq("the", fresh(), fresh(), fresh())
        docs += Seq.fill(8 + rnd.nextInt(12))(phrase).flatten
    }
    val ids = rnd.shuffle((0L until docs.size.toLong).toVector)
    spark.createDataset(docs.indices.map(i => (ids(i), docs(i).mkString(" "))))
      .toDF("doc_id", "text").repartition(8)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeLines(s"$dir/expected.tsv", clusters.map { c =>
      s"${c.map(ids).min}\t${docs(c.head).size}"
    })
  }

  def open(spark: SparkSession, dir: String): Loaded = new Loaded {
    type R = Map[Long, Long] // survivor doc_id -> token count
    private val docs = spark.read.parquet(s"$dir/documents.parquet")
    val inputRows: Long = docs.count()
    private val expected: Map[Long, Long] = readLines(s"$dir/expected.tsv").map { l =>
      val Array(id, n) = l.split("\t"); id.toLong -> n.toLong
    }.toMap

    def run(tr: Option[Tracer], work: File): R = {
      val toks = split(col("text"), " ")
      val filtered = step(tr, "text.filter") {
        CacheBin.persist(docs
          .filter(TextFns.charLen(col("text")) >= 100)
          .filter(TextFns.langId(col("text")) === "en")
          .select(col("doc_id"), col("text"), Dedup.shingles(toks, 2).as("gs"))
          .filter(lit(1.0) - functions.size(array_distinct(col("gs"))) / functions.size(col("gs")) <= 0.2)
          .select("doc_id", "text"))
      } { f => (f, f.count(), Map.empty) }
      val pairs = step(tr, "dedup.pairs") {
        Dedup.jaccardPairsExact(filtered, "doc_id", "text", shingleN = 3, threshold = 0.6)
      } { p => val pp = CacheBin.persist(p); (pp, pp.count(), Map.empty) }
      step(tr, "dedup.keep") {
        Dedup.keepRepresentatives(filtered, "doc_id", pairs)
          .join(filtered, "doc_id")
          .select(col("doc_id"), TextFns.tokenCount(col("text")).as("n_tokens"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } { m => (m, m.size.toLong, Map.empty) }
    }

    def check(r: R): Seq[String] = diff("survivor", expected, r)

    def digest(r: R): String = digestOf(r.map { case (k, v) => s"$k:$v" })

    def corrupt(r: R, how: String): R = how match {
      case "drop" => r - r.keys.min
      case _ => val k = r.keys.min; r - k + ((k + 1) -> r(k))
    }
  }
}
