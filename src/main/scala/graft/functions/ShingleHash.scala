package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen n-gram shingle hashing: one pass over a token string
  * array emits the DISTINCT 64-bit hashes of every n-token shingle —
  * semantically `array_distinct(transform(shingles(toks, n), xxhash64))`
  * but with zero string materialization: the hash streams over each
  * window's token bytes with a 0x20 separator (identical bytes to the
  * `concat_ws(" ", slice(...))` join), replacing three interpreted
  * higher-order functions (CodegenFallback, per-element lambda calls) with
  * a single primitive loop inside whole-stage codegen. This is the scan
  * kernel of minhash/jaccard dedup — the dominant cost at 10^12 docs.
  *
  * Window rule mirrors Dedup.shingles: i in 0..max(len-n, 0), short tail
  * windows included (an empty token array yields the hash of ""). Null
  * tokens are skipped with their separator, as concat_ws does.
  */
case class ShingleHash64Expr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_hash64"

  override def nullSafeEval(input: Any): Any =
    ShingleHash64Expr.distinctShingleHashes(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHash64Expr.distinctShingleHashes($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHash64Expr {

  /** Shared by interpreted eval and generated code (called statically). */
  def distinctShingleHashes(arr: ArrayData, n: Int): GenericArrayData = {
    val len = arr.numElements()
    val last = math.max(len - n, 0)
    val seen = new java.util.HashSet[java.lang.Long](
      math.min(last + 1, 1 << 12))
    val out = new Array[Long](last + 1)
    var m = 0
    var i = 0
    while (i <= last) {
      // FNV-1a over the window's token bytes joined by 0x20, then the
      // splitmix finalizer — same stream as hash64(concat_ws(" ", window))
      var h = 0xcbf29ce484222325L
      var first = true
      var j = i
      val end = math.min(i + n, len)
      while (j < end) {
        if (!arr.isNullAt(j)) {
          if (!first) { h ^= 0x20L; h *= 0x100000001b3L }
          val bytes = arr.getUTF8String(j).getBytes
          var k = 0
          while (k < bytes.length) { h ^= bytes(k) & 0xFFL; h *= 0x100000001b3L; k += 1 }
          first = false
        }
        j += 1
      }
      h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
      h ^= h >>> 27; h *= 0x94d049bb133111ebL
      h ^= h >>> 31
      if (seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == out.length) out else out.take(m))
  }

  def shingleHash64(toks: Column, n: Int): Column =
    GraftColumnBridge.column(ShingleHash64Expr(GraftColumnBridge.expression(toks), n))
}
