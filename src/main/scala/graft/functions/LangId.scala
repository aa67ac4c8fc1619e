package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen stopword language id: ONE pass over the text's code
  * points scores every language of the lexicon at once — semantically the
  * argmax over languages of
  * `size(array_intersect(array_distinct(split(text, "[^\\p{L}]+")), words))`,
  * without materializing a token array or running one intersect per
  * language. A token is a maximal run of letter code points
  * (`Character.isLetter`, which is Java regex `\p{L}`); each token is
  * looked up in a word → bit table, the document keeps the OR of the bits
  * it saw, and a language scores the popcount of that mask under its own
  * word mask. Ties go to the first language in lexicon order; a best
  * score of 0 — and null text — gives "und". The child is the text as it
  * should be matched (TextFns.langId passes `lower(text)`).
  */
case class LangIdExpr(child: Expression, lexicon: Seq[(String, Seq[String])])
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "lang_id"

  @transient private lazy val table = new LangIdTable(lexicon)

  override def eval(input: InternalRow): Any =
    table.classify(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("langIdTable", table, classOf[LangIdTable].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      UTF8String ${ev.value} = $t.classify(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The lexicon compiled for [[LangIdExpr]]: every distinct word packed
  * into a long key (its UTF-16 chars, 16 bits each — injective because a
  * letter is never char 0), sorted for binary search, with one bit per
  * word; one word mask per language. Shared by interpreted eval and
  * generated code, so it is serializable. */
final class LangIdTable(lexicon: Seq[(String, Seq[String])]) extends Serializable {
  private val words = lexicon.flatMap(_._2).distinct.sortBy(LangIdTable.key)
  require(words.size <= 64, s"langId supports at most 64 distinct words, got ${words.size}")
  require(words.forall(w => w.nonEmpty && w.length <= LangIdTable.MaxChars),
    s"langId words must have 1 to ${LangIdTable.MaxChars} UTF-16 chars")

  private val keys: Array[Long] = words.map(LangIdTable.key).toArray
  private val langs: Array[UTF8String] = lexicon.map(l => UTF8String.fromString(l._1)).toArray
  private val langMasks: Array[Long] = lexicon.map { case (_, ws) =>
    ws.foldLeft(0L)((m, w) => m | (1L << words.indexOf(w)))
  }.toArray

  /** Bit of the word s[from, until), or 0 when it is not in the lexicon. */
  private def bit(s: String, from: Int, until: Int): Long =
    if (until - from > LangIdTable.MaxChars) 0L
    else {
      var k = 0L
      var i = from
      while (i < until) { k = (k << 16) | s.charAt(i); i += 1 }
      val idx = java.util.Arrays.binarySearch(keys, k)
      if (idx >= 0) 1L << idx else 0L
    }

  def classify(text: UTF8String): UTF8String = {
    if (text == null) return LangIdTable.Und
    val s = text.toString
    val n = s.length
    var seen = 0L
    var start = -1
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      if (Character.isLetter(cp)) { if (start < 0) start = i }
      else if (start >= 0) { seen |= bit(s, start, i); start = -1 }
      i += Character.charCount(cp)
    }
    if (start >= 0) seen |= bit(s, start, n)
    var best = 0
    var pick = -1
    var l = 0
    while (l < langMasks.length) {
      val score = java.lang.Long.bitCount(seen & langMasks(l))
      if (score > best) { best = score; pick = l }
      l += 1
    }
    if (pick < 0) LangIdTable.Und else langs(pick)
  }
}

object LangIdTable {
  final val MaxChars = 4
  final val Und: UTF8String = UTF8String.fromString("und")

  private def key(w: String): Long = w.foldLeft(0L)((k, c) => (k << 16) | c)
}

object LangIdExpr {
  def langId(text: Column, lexicon: Seq[(String, Seq[String])]): Column =
    GraftColumnBridge.column(LangIdExpr(GraftColumnBridge.expression(text), lexicon))
}
