package graft.spatial

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Planar hexagonal cell index — the H3-res-9 analog of the north star's
  * "H3 res-9 / S2 level-13 covering cells", on the projected plane the
  * reference's cadastre operators live in (UTM meters; here the synthetic
  * [0,100)² field). H3 proper wraps a hex lattice around an icosahedron;
  * on an already-projected layer the lattice itself IS the index, and it
  * carries the properties the north star buys from H3: equal-area cells,
  * exactly 6 equidistant neighbors (ring queries without the square grid's
  * corner-distance anisotropy), and ~13% tighter worst-case cell radius
  * per area than squares for kNN candidate pruning.
  *
  * Construction (public axial/cube-coordinate method, e.g. the Red Blob
  * Games exposition and the H3 paper's own local ijk step): pointy-top
  * hexes of circumradius `size`; fractional axial coords are a linear
  * transform of (x, y); the containing cell is cube-rounding — round each
  * of (q, −q−r, r) and re-derive the axis with the largest rounding error
  * from the other two, restoring the q+s+r = 0 invariant.
  *
  * Cell id: `(q + B) * 2^21 + (r + B)` with B = 2^20 — pure multiply/add
  * (no shifts: DuckDB's `<<` is overflow-checked, see Morton.mortonSql's
  * axis note). AXIS BOUND: |q|, |r| < 2^20, i.e. coordinates up to ~10^6
  * cell widths from the origin — callers index a projected layer whose
  * extent/size ratio stays below that (a full UTM zone at 1 m cells fits).
  * Neighbor ids are id-space OFFSETS: stepping (dq, dr) adds
  * `dq * 2^21 + dr`, so ring expansion is 7 integer adds on the packed id
  * — no decode, no re-encode, codegen-trivial on the 10^12-row side.
  *
  * ORACLE PARITY CONTRACT — stronger than S2Grid's: the encode is +,-,*,/,
  * floor, abs, CASE only (no libm trig), every constant is emitted into
  * the SQL mirror via Double.toString (shortest round-trip, both engines
  * parse the same binary64), and both engines evaluate the identical
  * expression tree — so Spark and DuckDB agree BIT-EXACTLY on every input,
  * boundary points included. No fp-margin argument needed.
  *
  * Reference analog: the R-tree candidate index (catatom2osm/geo/layer/
  * base.py:331-336) — here as a lattice key a broadcast hash join can use.
  */
object HexGrid {

  /** id-packing offset and stride (multiplication-safe, oracle-safe). */
  val Bias: Long = 1L << 20
  val Stride: Long = 1L << 21

  /** The 6 axial neighbor steps (dq, dr), pointy-top, CCW from east. */
  val NeighborSteps: Seq[(Long, Long)] =
    Seq((1L, 0L), (1L, -1L), (0L, -1L), (-1L, 0L), (-1L, 1L), (0L, 1L))

  /** id-space offsets of the 6 neighbors: dq * Stride + dr. */
  def neighborOffsets: Seq[Long] = NeighborSteps.map { case (dq, dr) => dq * Stride + dr }

  // Per-size constants, precomputed ONCE in double and shared verbatim by
  // the Column mirror, the Scala mirror, and the SQL mirror — the parity
  // contract is "same literals, same expression tree".
  final case class Consts(size: Double) {
    val qx: Double = math.sqrt(3.0) / 3.0 / size // q = x*qx + y*qy
    val qy: Double = -1.0 / 3.0 / size
    val ry: Double = 2.0 / 3.0 / size // r = y*ry
    val cxq: Double = math.sqrt(3.0) * size // center x = q*cxq + r*cxr
    val cxr: Double = math.sqrt(3.0) / 2.0 * size
    val cyr: Double = 1.5 * size // center y = r*cyr
  }

  // ---- Column mirror ------------------------------------------------------

  /** Hex cell id of projected (x, y) columns at circumradius `size`.
    * Backed by the native [[graft.functions.HexCellExpr]]: the pure-Column
    * formulation of the cube-rounding CASE duplicates the qf/rf/sf
    * subtrees ~20x (Catalyst does not CSE inside conditional branches) and
    * in join/aggregate plans the expanded tree pushed the generated method
    * past the JIT's huge-method limit — measured 100x slower. The native
    * expression computes each intermediate once; rounding is
    * floor(v + 0.5), the one rounding Spark, Java, and DuckDB define
    * identically. */
  def cellCol(x: Column, y: Column, size: Double): Column =
    graft.functions.HexCellExpr.hexCell(x, y, size)

  /** Hex center (x, y) of a packed cell id — for parent re-encode and
    * center-distance pruning. */
  def centerXCol(cell: Column, size: Double): Column = {
    val c = Consts(size)
    val q = floor(cell / lit(Stride)) - lit(Bias)
    val r = cell % lit(Stride) - lit(Bias)
    q.cast("double") * lit(c.cxq) + r.cast("double") * lit(c.cxr)
  }
  def centerYCol(cell: Column, size: Double): Column = {
    val c = Consts(size)
    val r = cell % lit(Stride) - lit(Bias)
    r.cast("double") * lit(c.cyr)
  }

  /** Parent at a coarser circumradius: re-encode the fine cell's center
    * (hex lattices don't nest exactly — H3's own parent relation is the
    * same approximate center-containment; documented, deterministic). */
  def parentCol(cell: Column, size: Double, parentSize: Double): Column =
    cellCol(centerXCol(cell, size), centerYCol(cell, size), parentSize)

  // ---- Scala mirror (MUST stay arithmetically identical) ------------------

  def cellOf(x: Double, y: Double, size: Double): Long = {
    val c = Consts(size)
    val qf = x * c.qx + y * c.qy
    val rf = y * c.ry
    val sf = -qf - rf
    val rq = math.floor(qf + 0.5); val rs = math.floor(sf + 0.5); val rr = math.floor(rf + 0.5)
    val dq = math.abs(rq - qf); val ds = math.abs(rs - sf); val dr = math.abs(rr - rf)
    val q = if (dq > ds && dq > dr) -rs - rr else rq
    val r = if (!(dq > ds && dq > dr) && !(ds > dr)) -rq - rs else rr
    ((q + Bias.toDouble) * Stride.toDouble + (r + Bias.toDouble)).toLong
  }

  def centerOf(cell: Long, size: Double): (Double, Double) = {
    val c = Consts(size)
    val q = math.floor(cell.toDouble / Stride.toDouble) - Bias
    val r = cell % Stride - Bias
    (q * c.cxq + r * c.cxr, r * c.cyr)
  }

  def axialOf(cell: Long): (Long, Long) = (cell / Stride - Bias, cell % Stride - Bias)

  // ---- ANSI SQL mirror for the DuckDB oracle ------------------------------

  /** Literal emission for the SQL mirrors. A bare decimal literal parses as
    * DECIMAL in BOTH DuckDB and Spark SQL, and `BIGINT * DECIMAL` then runs
    * in exact decimal arithmetic — an ulp away from the engine's double
    * multiply, which at the rollup's exact 3x lattice alignment is enough
    * to flip a parent cell (observed: 10/89 parents). CAST pins every
    * literal to binary64 so the SQL tree computes in doubles end-to-end. */
  private def d(v: Double): String = s"CAST($v AS DOUBLE)"

  /** CTE chain computing `cell` for a source CTE named `src` exposing
    * (id, x, y). Caller wraps as `WITH <src> AS (...), <this>` and selects
    * from `<prefix>cell`. Identical operation order to [[cellCol]]. The
    * packed id is an exactly-integral double (every intermediate <= 2^42
    * < 2^53), so DuckDB's round-to-nearest BIGINT cast and Spark's
    * truncating cast agree bit-exactly. `prefix` lets one oracle chain two
    * encodes (fine cells, then their centers at the parent size). */
  def cellSqlCtes(size: Double, prefix: String = "hex", src: String = "src"): String = {
    val c = Consts(size)
    val p = prefix
    s"""${p}f AS (SELECT id, x * ${d(c.qx)} + y * ${d(c.qy)} AS qf, y * ${d(c.ry)} AS rf FROM $src),
       |${p}s AS (SELECT id, qf, rf, -qf - rf AS sf FROM ${p}f),
       |${p}r AS (
       |  SELECT id, qf, rf, sf,
       |    floor(qf + 0.5) AS rq, floor(sf + 0.5) AS rs, floor(rf + 0.5) AS rr
       |  FROM ${p}s),
       |${p}q AS (
       |  SELECT id,
       |    CASE WHEN abs(rq - qf) > abs(rs - sf) AND abs(rq - qf) > abs(rr - rf)
       |         THEN -rs - rr ELSE rq END AS q,
       |    CASE WHEN NOT (abs(rq - qf) > abs(rs - sf) AND abs(rq - qf) > abs(rr - rf))
       |          AND NOT (abs(rs - sf) > abs(rr - rf))
       |         THEN -rq - rs ELSE rr END AS r
       |  FROM ${p}r),
       |${p}cell AS (
       |  SELECT id, CAST((q + $Bias.0) * $Stride.0 + (r + $Bias.0) AS BIGINT) AS cell
       |  FROM ${p}q)""".stripMargin
  }

  /** SQL expressions for a cell id's center (x, y) — the rollup mirror. */
  def centerXSql(cell: String, size: Double): String = {
    val c = Consts(size)
    s"(floor(CAST($cell AS DOUBLE) / $Stride.0) - $Bias) * ${d(c.cxq)} + " +
      s"(CAST($cell % $Stride AS DOUBLE) - $Bias) * ${d(c.cxr)}"
  }
  def centerYSql(cell: String, size: Double): String = {
    val c = Consts(size)
    s"(CAST($cell % $Stride AS DOUBLE) - $Bias) * ${d(c.cyr)}"
  }

  // ---- conservative cover (the polygon/dim side of a hex-keyed join) ------

  /** All hex cells (circumradius `size`) a planar diamond
    * `|x-cx| + |y-cy| < r` can intersect. Conservative lattice sampling,
    * same argument as S2Grid.coverDiamond: inflate the radius by one cell
    * diameter, sample at half the inradius (inradius = size*sqrt(3)/2; any
    * point of the hex is within `size` of every point in the sample's cell
    * footprint... sampling step <= inradius guarantees every intersecting
    * cell contains a sample of the inflated diamond). False positives are
    * fine — the join refines exactly; HexGridSpec cross-checks against a
    * brute-force join. Driver-side over the small dim table only. */
  /** All hex cells a multipolygon can intersect — the hex analog of
    * CellGrid.coverPolygon (pruned, not a bbox blanket). Two passes:
    *  1. boundary — walk every ring edge at step = inradius/2, marking the
    *     sample's hex AND its 6 neighbors: an edge point inside any
    *     intersected hex is within inradius/2 of some sample, and a disk
    *     of radius inradius/2 around a point of a hex is contained in the
    *     hex ∪ its 6 neighbors, so every boundary-crossed hex gets marked;
    *  2. interior — every unmarked lattice center in the bbox is PIP-
    *     classified: a hex the boundary does not cross is entirely inside
    *     or outside, so its center decides it exactly.
    * False positives survive to the exact refinement; false negatives are
    * impossible by the two cases above (HexGridSpec cross-checks against
    * a brute-force join). Driver-side over the small dim table only. */
  def coverPolygon(mp: graft.geom.Geom.MultiPolygon, size: Double): Seq[Long] = {
    val c = Consts(size)
    val step = size * math.sqrt(3.0) / 2.0 / 2.0
    val marked = scala.collection.mutable.HashSet[Long]()
    for (poly <- mp; ring <- poly) {
      val n = ring.length
      var i = 0
      while (i < n) {
        val a = ring(i); val b = ring((i + 1) % n)
        val len = math.hypot(b.x - a.x, b.y - a.y)
        val steps = math.max(1, math.ceil(len / step).toInt)
        var k = 0
        while (k <= steps) {
          val t = k.toDouble / steps
          val cell = cellOf(a.x + t * (b.x - a.x), a.y + t * (b.y - a.y), size)
          marked += cell
          neighborOffsets.foreach(off => marked += cell + off)
          k += 1
        }
        i += 1
      }
    }
    val bb = graft.geom.Geom.bbox(mp)
    val out = Seq.newBuilder[Long]
    out ++= marked
    // lattice centers: y = r*cyr, x = q*cxq + r*cxr — enumerate the r rows
    // overlapping the bbox (inflated by one circumradius) and the q range
    // per row, skipping marked hexes
    val rLo = math.floor((bb.ymin - size) / c.cyr).toLong
    val rHi = math.ceil((bb.ymax + size) / c.cyr).toLong
    var r = rLo
    while (r <= rHi) {
      val xOff = r * c.cxr
      val qLo = math.floor((bb.xmin - size - xOff) / c.cxq).toLong
      val qHi = math.ceil((bb.xmax + size - xOff) / c.cxq).toLong
      var q = qLo
      while (q <= qHi) {
        val cell = (q + Bias) * Stride + (r + Bias)
        if (!marked.contains(cell) &&
            graft.geom.Geom.pointInMultiPolygon(
              graft.geom.Pt(q * c.cxq + r * c.cxr, r * c.cyr), mp))
          out += cell
        q += 1
      }
      r += 1
    }
    out.result().distinct.sorted
  }

  def coverDiamond(cx: Double, cy: Double, r: Double, size: Double): Seq[Long] = {
    val step = size * math.sqrt(3.0) / 2.0 / 2.0
    val rInf = r + 2.0 * size
    val cells = scala.collection.mutable.HashSet[Long]()
    var dx = -rInf
    while (dx <= rInf) {
      val ySpan = rInf - math.abs(dx)
      var dy = -ySpan
      while (dy <= ySpan) {
        cells += cellOf(cx + dx, cy + dy, size)
        dy += step
      }
      dx += step
    }
    cells.toSeq.sorted
  }

  /** The broadcast dim side of the hex-keyed zone join: SynthGeo's zones
    * exploded per covering cell of circumradius `size` (driver-side over
    * the 12-row dim only). */
  def zoneSide(s: SparkSession, size: Double): DataFrame =
    s.createDataFrame(
      SynthGeo.zoneParams.flatMap { case (k, cx, cy, r) =>
        coverDiamond(cx, cy, r, size).map(c => (c, k, cx, cy, r))
      }).toDF("cell", "zone_id", "zcx", "zcy", "zr")

  /** 6-neighbor ring smoothing of (x, y) points: (cell, n, ring_n), where
    * ring_n counts the points in the cell and its 6 neighbors. The ring is
    * a 7-row explode over per-cell COUNTS (neighbor ids are id offsets),
    * so the corpus pays one partial-agg exchange and the ring a
    * counts-sized one. The counts aggregate is persisted: it feeds both
    * the ring explode and the final join — one corpus scan, not two. */
  def ringSmooth(pts: DataFrame, size: Double): DataFrame = {
    val cnts = graft.CacheBin.persist(pts
      .select(cellCol(col("x"), col("y"), size).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n")))
    val offs = typedLit(0L +: neighborOffsets)
    val ring = cnts
      .select(col("cell"), col("n"), explode(offs).as("off"))
      .select((col("cell") + col("off")).as("tgt"), col("n"))
      .groupBy("tgt").agg(sum("n").as("ring_n"))
    cnts.join(ring, cnts("cell") === ring("tgt"))
      .select(col("cell"), col("n"), col("ring_n"))
  }
}
