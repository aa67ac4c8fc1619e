package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The native one-pass `TextFns.langId` against the column composition it
  * replaced (kept here as the reference): the same label on every input,
  * under whole-stage codegen, without it, with expression codegen off
  * (interpreted eval) and on constant-folded literals. */
class LangIdSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The previous `TextFns.langId`: one split/distinct/intersect subtree
    * per language, argmax folded left over the sorted languages. */
  def langIdRef(text: Column): Column = {
    val toks = array_distinct(split(lower(text), "[^\\p{L}]+"))
    val scored = TextFns.langLexicon.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        size(array_intersect(toks, array(words.map(lit): _*))).as("score"),
        lit(lang).as("lang"))
    }
    val best = scored.reduce { (a, b) =>
      when(b("score") > a("score"), b).otherwise(a)
    }
    when(best("score") > 0, best("lang")).otherwise(lit("und"))
  }

  val adversarial: Seq[String] = Seq(
    null, "", " ", "   \t\n ",
    // case: lower() runs before matching
    "THE CAT AND THE DOG", "The Cat And Dog Is", "LA CaSa De El Que", "DER die UND",
    // lower-casing changes the length: İ -> i + U+0307 (a mark, not a letter)
    "İstanbul the", "İN THE İS", "ǅ der und",
    // letters outside the BMP (surrogate pairs) inside and between tokens
    "𝒜the and", "the𐐀 and is", "𐐀 the and of", "𝒜", "😀the😀and😀is",
    // non-letter separators
    "the1and2is", "the_and_is", "l'the l'and", "the and is",
    "the,and;of.to", "éthe and", "\uD800the and", "the\uDC00and",
    // CJK: letters, so no separator between them
    "the的是", "的 是 了", "的是", "我 有 和 the",
    // ties go to the first language in code order; no hit gives und
    "la de en", "en", "la", "de", "der the", "qwerty zxcvb", "thee andd iss",
    "a", "A", "y", "zu zu zu", "est un le")

  private def mismatches(df: DataFrame): Seq[(String, String, String)] =
    df.select(col("text"), langIdRef(col("text")).as("want"),
        TextFns.langId(col("text")).as("got"))
      .as[(String, String, String)].collect().toSeq
      .filter { case (_, want, got) => want != got }

  private def corpus: DataFrame = {
    val docs = spark.read.parquet(s"${TestSpark.sf01}/documents.parquet").select("text")
    docs.union(adversarial.toDF("text"))
  }

  private val modes: Seq[(String, Seq[(String, String)])] = Seq(
    "whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true"),
    "no whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  for ((mode, conf) <- modes) test(s"same label as the column composition ($mode)") {
    TestSpark.withConf(conf: _*) {
      val df = corpus
      assert(df.count() > adversarial.size)
      val bad = mismatches(df)
      assert(bad.isEmpty, s"mismatches: ${bad.take(10)}")
    }
  }

  test("same label on constant-folded literals") {
    for (s <- adversarial) {
      val t = lit(s).cast("string")
      val (want, got) = spark.range(1)
        .select(langIdRef(t), TextFns.langId(t)).as[(String, String)].head()
      assert(got == want, s"'$s'")
    }
  }

  test("decision rule: case, ties, separators, null") {
    val got = adversarial.toDF("text").select(col("text"), TextFns.langId(col("text")))
      .as[(String, String)].collect().toSeq
    val m = got.collect { case (t, l) if t != null => t -> l }.toMap
    assert(got.collect { case (null, l) => l } == Seq("und"))
    assert(m("") == "und" && m("   \t\n ") == "und")
    assert(m("THE CAT AND THE DOG") == "en")
    assert(m("la de en") == "es") // es/fr tie: first in code order
    assert(m("der the") == "de") // de/en tie
    assert(m("the的是") == "und") // one letter run, no stopword
    assert(m("的 是 了") == "zh")
    assert(m("the and is") == "en" && m("the1and2is") == "en")
    assert(m("😀the😀and😀is") == "en" && m("𝒜the and") == "en")
    assert(m("qwerty zxcvb") == "und")
  }

  test("the plan carries one lang_id call, not a subtree per language") {
    val plan = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet")
      .select(TextFns.langId(col("text")).as("l"))
      .queryExecution.executedPlan.toString
    assert("lang_id\\(".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("array_intersect"), plan)
  }
}
