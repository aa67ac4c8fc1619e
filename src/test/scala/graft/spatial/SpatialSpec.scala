package graft.spatial

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.geom.{Geom, Pt}

class CellGridSpec extends AnyFunSuite {
  val grid = CellGrid(10.0, origin = 0.0, rowWidth = 1000L)

  test("Scala cellOf mirrors the Catalyst cellCol exactly") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pts = SynthGeo.points(spark, TestSpark.sf001)
    val viaCol = pts.toDF().withColumn("cell", grid.cellCol(col("x"), col("y")))
      .select("id", "cell").as[(Long, Long)].collect().toMap
    val viaScala = pts.collect().map(p => (p.id, grid.cellOf(p.x, p.y))).toMap
    assert(viaCol === viaScala)
  }

  test("bbox cover enumerates the rectangle of cells") {
    val cells = grid.cover(Geom.BBox(5, 5, 25, 15))
    assert(cells.size === 6) // x cells 0,1,2 × y cells 0,1
    assert(cells.contains(grid.pack(0, 0)) && cells.contains(grid.pack(2, 1)))
  }
}

class SpatialJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val pipGrid = CellGrid(8.0, origin = 0.0, rowWidth = 1L << 20)

  test("broadcast and partitioned PIP joins agree") {
    import spark.implicits._
    val pts = SynthGeo.points(spark, TestSpark.sf001).toDF()
    val zonesDs = spark.createDataset(SynthGeo.zones)
    val a = SpatialJoin.pipJoinCodegen(pts, "id", "x", "y", SynthGeo.zones, pipGrid)
      .as[(Long, Long)].collect().toSet
    val b = SpatialJoin.pipJoinPartitioned(pts, "id", "x", "y", zonesDs, pipGrid, nSalt = 1)
      .as[(Long, Long)].collect().toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("codegen PIP join agrees with the hex-keyed PIP join") {
    import spark.implicits._
    val pts = SynthGeo.points(spark, TestSpark.sf001).toDF()
    val a = SpatialJoin.pipJoinHex(pts, "id", "x", "y", SynthGeo.zones, 2.5)
      .as[(Long, Long)].collect().toSet
    val c = SpatialJoin.pipJoinCodegen(pts, "id", "x", "y", SynthGeo.zones, pipGrid)
      .as[(Long, Long)].collect().toSet
    assert(c === a)
    assert(c.nonEmpty)
  }

  test("PIP join matches brute-force ray casting") {
    import spark.implicits._
    val pts = SynthGeo.points(spark, TestSpark.sf001).collect()
    val expected = (for {
      p <- pts
      z <- SynthGeo.zones
      if Geom.pointInMultiPolygon(Pt(p.x, p.y), z.geometry)
    } yield (p.id, z.zone_id)).toSet
    val got = SpatialJoin
      .pipJoinCodegen(SynthGeo.points(spark, TestSpark.sf001).toDF(), "id", "x", "y",
        SynthGeo.zones, pipGrid)
      .as[(Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("nearestSiteJoin matches brute-force argmin") {
    import spark.implicits._
    val grid = CellGrid(12.0, origin = 0.0, rowWidth = 1L << 20)
    // the synthetic points, and points whose cells lie further from every
    // site than the site cells' own extent (on each side of it)
    val far = Seq(IdPoint(1L, 1000.0, 1000.0), IdPoint(2L, -500.0, 40.0),
      IdPoint(3L, 60.0, 5000.0), IdPoint(4L, -800.0, -900.0))
    for (pts <- Seq(SynthGeo.points(spark, TestSpark.sf001).collect().toSeq, far)) {
      val expected = pts.map { p =>
        val best = SynthGeo.sites.minBy(s => ((p.x - s.x) * (p.x - s.x) + (p.y - s.y) * (p.y - s.y), s.site_id))
        (p.id, best.site_id)
      }.toMap
      val got = SpatialJoin
        .nearestSiteJoin(spark.createDataset(pts), SynthGeo.sites, grid)
        .as[(Long, Long)].collect().toMap
      assert(got === expected)
    }
  }

  test("radiusJoin matches brute-force disc probe") {
    import spark.implicits._
    val grid = CellGrid(6.5, origin = 0.0, rowWidth = 1L << 20)
    val pts = SynthGeo.points(spark, TestSpark.sf001).collect()
    val r2 = 6.5 * 6.5
    val expected = (for {
      p <- pts; s <- SynthGeo.sites
      if (p.x - s.x) * (p.x - s.x) + (p.y - s.y) * (p.y - s.y) <= r2
    } yield (p.id, s.site_id)).toSet
    val got = SpatialJoin
      .radiusJoin(SynthGeo.points(spark, TestSpark.sf001), SynthGeo.sites, grid, 6.5)
      .as[(Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("radiusJoinPartitioned equals the broadcast radiusJoin") {
    import spark.implicits._
    val grid = CellGrid(6.5, origin = 0.0, rowWidth = 1L << 20)
    val pts = SynthGeo.points(spark, TestSpark.sf001)
    val expected = SpatialJoin.radiusJoin(pts, SynthGeo.sites, grid, 6.5)
      .as[(Long, Long)].collect().toSet
    val got = SpatialJoin.radiusJoinPartitioned(
      pts, spark.createDataset(SynthGeo.sites), grid, 6.5)
      .as[(Long, Long)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("nearestSiteJoinPartitioned equals the broadcast nearestSiteJoin") {
    import spark.implicits._
    val grid = CellGrid(12.0, origin = 0.0, rowWidth = 1L << 20)
    val pts = SynthGeo.points(spark, TestSpark.sf001)
    val expected = SpatialJoin.nearestSiteJoin(pts, SynthGeo.sites, grid)
      .as[(Long, Long)].collect().toMap
    val got = SpatialJoin.nearestSiteJoinPartitioned(
      pts, spark.createDataset(SynthGeo.sites), baseCell = 12.0)
      .as[(Long, Long)].collect().toMap
    assert(got === expected)
  }

  test("nearestSiteJoinPartitioned resolves far points via granularity doubling") {
    import spark.implicits._
    // one site, points up to ~4000 units away: needs several doubling rounds
    val pts = spark.createDataset(
      (1 to 40).map(i => IdPoint(i.toLong, i * 100.0, i * 97.0)))
    val sites = spark.createDataset(Seq(Site(7L, 50.0, 50.0), Site(9L, 3900.0, 3800.0)))
    val got = SpatialJoin.nearestSiteJoinPartitioned(pts, sites, baseCell = 10.0)
      .as[(Long, Long)].collect().toMap
    val expected = (1 to 40).map { i =>
      val p = (i * 100.0, i * 97.0)
      val best = Seq((7L, 50.0, 50.0), (9L, 3900.0, 3800.0)).minBy { case (id, x, y) =>
        ((p._1 - x) * (p._1 - x) + (p._2 - y) * (p._2 - y), id)
      }
      (i.toLong, best._1)
    }.toMap
    assert(got === expected)
  }

  test("pruned coverPolygon: lossless for interior points, matches closed form on diamonds") {
    val grid = CellGrid(10.0, origin = 0.0, rowWidth = 1000L)
    for ((_, cx, cy, r) <- SynthGeo.zoneParams) {
      val mp = SynthGeo.diamond(cx, cy, r)
      val cov = grid.coverPolygon(mp).toSet
      // closed form: cell square intersects the diamond iff its L1
      // distance to the center is <= r (what the q_rasterize oracle runs)
      val bb = Geom.bbox(mp)
      val expected = (for {
        gy <- grid.cellY(bb.ymin) to grid.cellY(bb.ymax)
        gx <- grid.cellX(bb.xmin) to grid.cellX(bb.xmax)
        dx = math.max(0.0, math.max(gx * 10.0 - cx, cx - gx * 10.0 - 10.0))
        dy = math.max(0.0, math.max(gy * 10.0 - cy, cy - gy * 10.0 - 10.0))
        if dx + dy <= r
      } yield grid.pack(gx, gy)).toSet
      assert(cov === expected)
      // losslessness probe: every interior point's cell is covered
      for (i <- 0 until 200) {
        val t = i / 200.0 * 2 * math.Pi
        val rad = (i % 10) / 10.0 * r * 0.99
        val px = cx + rad * math.cos(t) * 0.7 // inside the L1 ball
        val py = cy + rad * math.sin(t) * 0.7
        if (math.abs(px - cx) + math.abs(py - cy) < r)
          assert(cov.contains(grid.cellOf(px, py)))
      }
    }
  }

  test("pruned coverPolygon: diagonal strip covers far fewer cells than its bbox") {
    // thin strip along the main diagonal: bbox cover is 100x100 cells,
    // the strip itself touches ~3 per row — the plan-quality gap VERDICT
    // r4 item 4 called out
    val grid = CellGrid(10.0, origin = 0.0, rowWidth = 1000L)
    val w = 4.0
    val ring = Array(Pt(0, -w), Pt(1000, 1000 - w), Pt(1000, 1000 + w), Pt(0, w))
    val mp: Geom.MultiPolygon = Array(Array(ring))
    val cov = grid.coverPolygon(mp)
    val bboxCells = grid.cover(Geom.bbox(mp)).size
    assert(bboxCells >= 10000)
    assert(cov.size < bboxCells / 10,
      s"pruned ${cov.size} should be well under bbox $bboxCells")
    assert(cov.toSet.contains(grid.cellOf(500.0, 500.0))) // on the strip
    assert(!cov.toSet.contains(grid.cellOf(900.0, 100.0))) // far off it
  }

  test("zone index covers every zone's own centroid cell") {
    val idx = SpatialJoin.buildZoneIndex(SynthGeo.zones, pipGrid)
    for (z <- SynthGeo.zones) {
      val c = Geom.centroid(z.geometry)
      val zs = idx.getOrElse(pipGrid.cellOf(c.x, c.y), Array.empty)
      assert(zs.exists(_.zone_id == z.zone_id))
    }
  }
}

/** The native site probes behind `nearestSiteJoin` and `radiusJoin`
  * against brute force on the shapes a cell index gets wrong first: ties
  * across cells, points on cell edges, negative coordinates, a single
  * site, a point at a site and null coordinates — under whole-stage
  * codegen, without it, and interpreted. */
class SiteProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val grid = CellGrid(10.0, origin = 0.0, rowWidth = 1L << 20)

  val sites: Seq[Site] = Seq(
    Site(7L, 12.0, 5.0), Site(2L, 8.0, 5.0), // tie at (10, 5), across a cell edge
    Site(5L, 12.0, 15.0), Site(3L, 18.0, 15.0), // tie at (15, 15), in one cell
    Site(9L, -15.0, -25.0), Site(4L, -30.0, 0.0), Site(8L, 40.0, -10.0),
    Site(6L, 30.0, 30.0), Site(1L, 30.0, 30.0)) // two sites at one place

  /** (id, x, y); None is a null coordinate. */
  val points: Seq[(Long, Option[Double], Option[Double])] = Seq(
    (1L, Some(10.0), Some(5.0)), (2L, Some(15.0), Some(15.0)),
    (3L, Some(20.0), Some(30.0)), (4L, Some(0.0), Some(0.0)), (5L, Some(-10.0), Some(-20.0)),
    (6L, Some(30.0), Some(30.0)), (7L, Some(12.0), Some(15.0)), (8L, Some(-15.0), Some(-25.0)),
    (9L, Some(-0.0), Some(-10.0)), (10L, Some(-20.5), Some(-12.5)), (11L, Some(22.0), Some(15.0)),
    (12L, Some(40.0), Some(20.0)), (13L, Some(-300.0), Some(450.0)), (14L, Some(2.0), Some(-5.0)),
    (15L, None, Some(5.0)), (16L, Some(5.0), None), (17L, None, None))

  private def d2(x: Double, y: Double, s: Site) = (x - s.x) * (x - s.x) + (y - s.y) * (y - s.y)

  private def nearest(ss: Seq[Site]): Map[Long, Option[Long]] = points.map {
    case (id, Some(x), Some(y)) => id -> Some(ss.minBy(s => (d2(x, y, s), s.site_id)).site_id)
    case (id, _, _) => id -> None
  }.toMap

  private def within(ss: Seq[Site], r: Double): Set[(Long, Long)] = points.collect {
    case (id, Some(x), Some(y)) => ss.filter(d2(x, y, _) <= r * r).map(s => (id, s.site_id))
  }.flatten.toSet

  private val modes: Seq[(String, Seq[(String, String)])] = Seq(
    "whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true"),
    "no whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  for ((mode, conf) <- modes; (name, ss) <- Seq("sites" -> sites, "a single site" -> sites.take(1)))
    test(s"nearest and radius probes match brute force ($name, $mode)") {
      import spark.implicits._
      TestSpark.withConf(conf: _*) {
        val pts = points.toDF("id", "x", "y").as[IdPoint]
        val got = SpatialJoin.nearestSiteJoin(pts, ss, grid)
          .as[(Long, Option[Long])].collect().toMap
        assert(got === nearest(ss))
        for (r <- Seq(0.0, 2.0, 10.0)) {
          val pairs = SpatialJoin.radiusJoin(pts, ss, grid, r).as[(Long, Long)].collect()
          assert(pairs.toSet === within(ss, r), s"radius $r")
          assert(pairs.length === pairs.toSet.size, s"radius $r: duplicate pairs")
        }
      }
    }

  test("the probes decide ties, cell edges and exact hits as specified") {
    import spark.implicits._
    val pts = points.toDF("id", "x", "y").as[IdPoint]
    val got = SpatialJoin.nearestSiteJoin(pts, sites, grid).as[(Long, Option[Long])].collect().toMap
    assert(got(1L) === Some(2L)) // equidistant from 7 (own cell) and 2: lower id
    assert(got(2L) === Some(3L)) // equidistant from 5 and 3
    assert(got(6L) === Some(1L)) // at two sites at one place
    assert(got(7L) === Some(5L) && got(8L) === Some(9L)) // exactly at a site
    assert(got(15L) === None && got(16L) === None && got(17L) === None)
    val near = SpatialJoin.radiusJoin(pts, sites, grid, 10.0).as[(Long, Long)].collect().toSet
    assert(near.contains((11L, 5L)) && near.contains((11L, 3L))) // 10 away: boundary in
    assert(!near.exists(_._1 >= 15L)) // a null coordinate gives no row
  }
}

class SaltedJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val grid = CellGrid(8.0, origin = 0.0, rowWidth = 1L << 20)

  test("salted partitioned PIP join equals the broadcast join") {
    import spark.implicits._
    val pts = SynthGeo.points(spark, TestSpark.sf001)
    val expected = SpatialJoin.pipJoinCodegen(pts.toDF(), "id", "x", "y", SynthGeo.zones, grid)
      .as[(Long, Long)].collect().toSet
    val salted = SpatialJoin.pipJoinPartitioned(
      pts.toDF(), "id", "x", "y", spark.createDataset(SynthGeo.zones), grid, nSalt = 4)
      .as[(Long, Long)].collect().toSet
    assert(salted === expected)
  }
}

class MinHashExprSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("native minhash signature: deterministic, right arity, sensitive to content") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("a b c", "b c d", "c d e")),
      (3L, Seq("x y z"))).toDF("id", "sh")
    val sigs = df.select(col("id"),
        graft.functions.MinHashSigExpr.minhashSig(col("sh"), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L).length === 16)
    assert(sigs(1L) === sigs(2L))       // identical shingles -> identical sig
    assert(sigs(1L) !== sigs(3L))
    assert(sigs.values.flatten.forall(_ >= 0))
  }
}

/** Z-order hierarchical cell encoding: column math == scala mirror, and
  * the parent law morton(ix,iy)>>2 == morton(ix>>1,iy>>1) that makes
  * multi-level tile rollups a shift instead of a re-encoding join. */
class MortonSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("bit interleave: known values and axis separation") {
    assert(Morton.morton(0, 0) === 0L)
    assert(Morton.morton(1, 0) === 1L)
    assert(Morton.morton(0, 1) === 2L)
    assert(Morton.morton(3, 5) === 39L) // x=11 y=101 -> 100111
    // full 32-bit axes survive
    assert(Morton.morton(0xFFFFFFFFL, 0) === 0x5555555555555555L)
    assert(Morton.morton(0, 0xFFFFFFFFL) === 0xAAAAAAAAAAAAAAAAL)
  }

  test("parent law: shift by 2 halves both axes") {
    val vals = Seq(0L, 1L, 7L, 123L, 9999L, 123456L, (1L << 20) - 3)
    for (ix <- vals; iy <- vals) {
      assert(Morton.morton(ix, iy) >>> 2 === Morton.morton(ix >> 1, iy >> 1))
      assert(Morton.morton(ix, iy) >>> 6 === Morton.morton(ix >> 3, iy >> 3))
    }
  }

  test("Catalyst column matches the scala mirror") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = spark.range(0, 5000)
      .select(col("id"),
        (col("id") * 7919L % 10000L).as("ix"),
        (col("id") * 104729L % 10000L).as("iy"))
      .select(col("ix"), col("iy"),
        Morton.mortonCol(col("ix"), col("iy")).as("m"))
      .as[(Long, Long, Long)].collect()
    rows.foreach { case (ix, iy, m) =>
      assert(m === Morton.morton(ix, iy), s"($ix,$iy)")
    }
  }
}
