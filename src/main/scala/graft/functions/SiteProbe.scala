package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import graft.spatial.{CellGrid, Site}

/** The site side of the nearest-site and radius probes, in primitive
  * arrays: the sites sorted by cell (row-major) and then by `site_id`, and
  * CSR offsets over the occupied cells only, so the index grows with the
  * number of sites, never with the number of cells in their bounding box.
  * A cell is found by binary search over its packed key, which numbers
  * the cells of the sites' cell bounding box row by row; a probed cell
  * outside that box is skipped without a lookup. Cells are
  * `CellGrid.cellX`/`cellY` of the grid the index was built for, so a NaN
  * coordinate falls in the cell those give it.
  *
  * Immutable and serializable: one instance is broadcast per join and
  * shared by every task of an executor. */
final class SiteIndex private (
    grid: CellGrid, x0: Long, y0: Long, x1: Long, y1: Long,
    cells: Array[Long], starts: Array[Int],
    xs: Array[Double], ys: Array[Double], ids: Array[Long]) extends Serializable {

  private def key(cx: Long, cy: Long): Long = (cy - y0) * (x1 - x0 + 1) + (cx - x0)

  /** First index of `cells` whose key is >= k. */
  private def lowerBound(k: Long): Int = {
    var lo = 0; var hi = cells.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cells(mid) < k) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Site slots of the cells (lo..hi, cy) that lie inside the box, as
    * `from << 32 | until`: the cells of one row are consecutive in the
    * sort order, so their sites are one slot range. */
  private def span(cy: Long, lo: Long, hi: Long): Long = {
    val a = math.max(lo, x0); val b = math.min(hi, x1)
    if (cy < y0 || cy > y1 || a > b) 0L
    else (starts(lowerBound(key(a, cy))).toLong << 32) | starts(lowerBound(key(b, cy) + 1))
  }

  /** `site_id` of the site nearest to (px, py), ties broken on the lower
    * `site_id`. Rings of cells at Chebyshev distance k = 0, 1, … around
    * the point's cell are scanned, starting at the first ring that reaches
    * the box; a site in ring k is at least (k-1)·cellSize away, so the
    * scan stops once the best squared distance is <= ((k-1)·cellSize)², or
    * after the ring through the box's farthest corner, by which every site
    * has been seen. A point no site is comparable to (a NaN coordinate)
    * gets Long.MaxValue. */
  def nearest(px: Double, py: Double): Long = {
    val cx = grid.cellX(px); val cy = grid.cellY(py)
    val last = math.max(math.max(math.abs(cx - x0), math.abs(cx - x1)),
      math.max(math.abs(cy - y0), math.abs(cy - y1)))
    var bestD2 = Double.MaxValue
    var bestId = Long.MaxValue
    var k = math.max(0L, math.max(math.max(x0 - cx, cx - x1), math.max(y0 - cy, cy - y1)))
    var done = false
    while (!done) {
      val bound = (k - 1).toDouble * grid.cellSize
      if (k > 0 && bound > 0 && bestD2 <= bound * bound) done = true
      else if (k > last) done = true
      else {
        // the ring's top and bottom rows whole, its end cells in between
        var row = math.max(cy - k, y0)
        val rowEnd = math.min(cy + k, y1)
        while (row <= rowEnd) {
          val whole = row == cy - k || row == cy + k
          var side = 0
          while (side < (if (whole) 1 else 2)) {
            val lo = if (side == 0) cx - k else cx + k
            val s = span(row, lo, if (whole) cx + k else lo)
            var i = (s >>> 32).toInt
            val until = s.toInt
            while (i < until) {
              val dx = px - xs(i); val dy = py - ys(i)
              val d2 = dx * dx + dy * dy
              if (d2 < bestD2 || (d2 == bestD2 && ids(i) < bestId)) {
                bestD2 = d2; bestId = ids(i)
              }
              i += 1
            }
            side += 1
          }
          row += 1
        }
        k += 1
      }
    }
    bestId
  }

  /** `site_id`s of the sites with squared distance <= r² from (px, py),
    * in (cell row, cell column, `site_id`) order. Only the 3 × 3 cell
    * neighborhood of the point's cell is probed, so the answer is complete
    * only for |r| <= cellSize. */
  def within(px: Double, py: Double, r: Double): ArrayData = {
    val cx = grid.cellX(px); val cy = grid.cellY(py)
    val r2 = r * r
    var out = new Array[Long](4)
    var n = 0
    var row = math.max(cy - 1, y0)
    val rowEnd = math.min(cy + 1, y1)
    while (row <= rowEnd) {
      val s = span(row, cx - 1, cx + 1)
      var i = (s >>> 32).toInt
      val until = s.toInt
      while (i < until) {
        val dx = px - xs(i); val dy = py - ys(i)
        if (dx * dx + dy * dy <= r2) {
          if (n == out.length) out = java.util.Arrays.copyOf(out, n * 2)
          out(n) = ids(i); n += 1
        }
        i += 1
      }
      row += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, n))
  }
}

object SiteIndex {

  /** Index `sites` by their cells of `grid`. Rejects a site set whose cell
    * bounding box holds more cells than a long can number. */
  def apply(sites: Seq[Site], grid: CellGrid): SiteIndex = {
    val cx = sites.map(s => grid.cellX(s.x)).toArray
    val cy = sites.map(s => grid.cellY(s.y)).toArray
    if (sites.isEmpty)
      return new SiteIndex(grid, 0L, 0L, -1L, -1L, Array.empty, Array(0),
        Array.empty, Array.empty, Array.empty)
    val (x0, x1, y0, y1) = (cx.min, cx.max, cy.min, cy.max)
    val w = Math.addExact(Math.subtractExact(x1, x0), 1L)
    val h = Math.addExact(Math.subtractExact(y1, y0), 1L)
    Math.multiplyExact(w, h) // every packed key fits a long
    val keys = sites.indices.map(i => (cy(i) - y0) * w + (cx(i) - x0)).toArray
    val order = sites.indices.sortBy(i => (keys(i), sites(i).site_id)).toArray
    val sortedKeys = order.map(keys)
    val firsts = sortedKeys.indices.filter(i => i == 0 || sortedKeys(i) != sortedKeys(i - 1))
    new SiteIndex(grid, x0, y0, x1, y1,
      firsts.map(sortedKeys).toArray, (firsts :+ sites.size).toArray,
      order.map(sites(_).x), order.map(sites(_).y), order.map(sites(_).site_id))
  }

  /** The index as a field of the generated class, read from the broadcast
    * once when the class is initialized for a partition, not per row. */
  private[functions] def genIndex(ctx: CodegenContext, index: Broadcast[SiteIndex]): String = {
    val bc = ctx.addReferenceObj("siteIndexBroadcast", index, classOf[Broadcast[_]].getName)
    val cls = classOf[SiteIndex].getName
    ctx.addMutableState(cls, "siteIndex", v => s"$v = ($cls) $bc.value();", forceInline = true)
  }
}

/** Native Catalyst expression: `site_id` of the site of `index` nearest to
  * the point (x, y) ([[SiteIndex.nearest]]: exact, ties on the lower
  * `site_id`). Null when x or y is null. */
case class NearestSiteExpr(x: Expression, y: Expression, index: Broadcast[SiteIndex])
    extends BinaryExpression {

  override def left: Expression = x
  override def right: Expression = y
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_site"

  @transient private lazy val sites = index.value

  override def nullSafeEval(xV: Any, yV: Any): Any =
    sites.nearest(xV.asInstanceOf[Double], yV.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = SiteIndex.genIndex(ctx, index)
    nullSafeCodeGen(ctx, ev, (xC, yC) => s"${ev.value} = $idx.nearest($xC, $yC);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(x = newLeft, y = newRight)
}

/** Native Catalyst expression: `array<bigint>` of the `site_id`s of
  * `index` within distance r of the point (x, y) ([[SiteIndex.within]]:
  * r must not exceed the index's cell size), for a radius join to
  * explode. Null when x, y or r is null. */
case class SitesWithinExpr(
    x: Expression, y: Expression, r: Expression, index: Broadcast[SiteIndex])
    extends TernaryExpression {

  override def first: Expression = x
  override def second: Expression = y
  override def third: Expression = r
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sites_within"

  @transient private lazy val sites = index.value

  override def nullSafeEval(xV: Any, yV: Any, rV: Any): Any =
    sites.within(xV.asInstanceOf[Double], yV.asInstanceOf[Double], rV.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = SiteIndex.genIndex(ctx, index)
    nullSafeCodeGen(ctx, ev, (xC, yC, rC) => s"${ev.value} = $idx.within($xC, $yC, $rC);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(x = newFirst, y = newSecond, r = newThird)
}

/** Column entries; the coordinates and the radius are cast to double. */
object NearestSiteExpr {
  def nearestSite(x: Column, y: Column, index: Broadcast[SiteIndex]): Column =
    GraftColumnBridge.column(NearestSiteExpr(
      GraftColumnBridge.expression(x.cast(DoubleType)),
      GraftColumnBridge.expression(y.cast(DoubleType)), index))
}

object SitesWithinExpr {
  def sitesWithin(x: Column, y: Column, r: Column, index: Broadcast[SiteIndex]): Column =
    GraftColumnBridge.column(SitesWithinExpr(
      GraftColumnBridge.expression(x.cast(DoubleType)),
      GraftColumnBridge.expression(y.cast(DoubleType)),
      GraftColumnBridge.expression(r.cast(DoubleType)), index))
}
