package graft.ops

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Per-key bottom-k by (priority ASC, id ASC) as a typed Aggregator over
  * (key, id, priority, payload) rows — the scalable replacement for a
  * row_number window: the window sorts AND fully shuffles every row; this
  * keeps a k-bounded buffer per key with map-side partial aggregation, so
  * only ≤k rows per (key, partition) reach the exchange, and the result is
  * exact under any priority distribution. Output elements are
  * (priority, id, payload) in rank order. A top-k by score is the bottom-k
  * of priority = −score (negation is exact). */
final class BottomK[K](k: Int)
    extends Aggregator[(K, Long, Double, Double), Seq[(Double, Long, Double)], Seq[(Double, Long, Double)]] {
  type Buf = Seq[(Double, Long, Double)]
  private def trim(b: Buf): Buf = b.sortBy(t => (t._1, t._2)).take(k)
  def zero: Buf = Seq.empty
  def reduce(b: Buf, a: (K, Long, Double, Double)): Buf = {
    // hot path: a full buffer only re-sorts when the candidate actually
    // beats the current kth element — most rows exit on one compare
    val cand = (a._3, a._2, a._4)
    if (b.length < k) trim(b :+ cand)
    else if (cand._1 < b.last._1 || (cand._1 == b.last._1 && cand._2 < b.last._2))
      trim(b.init :+ cand)
    else b
  }
  def merge(b1: Buf, b2: Buf): Buf = trim(b1 ++ b2)
  def finish(r: Buf): Buf = trim(r)
  def bufferEncoder: Encoder[Buf] = ExpressionEncoder()
  def outputEncoder: Encoder[Buf] = ExpressionEncoder()
}
