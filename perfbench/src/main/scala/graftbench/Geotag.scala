package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.CacheBin
import graft.spatial.{CellGrid, IdPoint, Site, SpatialJoin, SynthGeo, Zone}
import Workload._

/** Geotagging web pages into zone tiles — the docs/s job.
  *
  * Pages carry the crawl shape (url, warc_ts, html, text, lang) plus a
  * geotag in a 100 × 100 field: a seeded share of pages sits in a few
  * dense "cities" (skewed weights, so some grid cells are hot), the rest
  * is uniform. Coordinates have two decimals; zone diamonds have centres
  * on a .xx5 and radii on a .xx3 grid, so no page lies within 0.003 of a
  * zone boundary and the point-in-polygon answer is exact. The expected
  * per-zone counts come from a direct L1 test |dx| + |dy| < r, and the
  * per-site counts from a brute-force nearest scan, both over the
  * generated coordinates.
  */
object Geotag extends Workload {
  val name = "geotag"
  val version = 3
  val size = 240000L
  val zoneGrid = 7 // zones: a jittered 7 x 7 lattice of diamonds
  val nSites = 256
  val pipGrid = CellGrid(8.0, origin = 0.0, rowWidth = 1L << 20)
  val knnGrid = CellGrid(12.0, origin = 0.0, rowWidth = 1L << 20)

  private val snippets = Seq(
    "local news from the city council and the weather service today",
    "restaurant reviews opening hours menus and prices near the harbour",
    "public transport timetables bus routes and train connections here",
    "events calendar concerts markets and exhibitions this weekend",
    "housing listings apartments for rent and homes for sale nearby",
    "sports clubs results fixtures and training sessions for juniors",
    "museum collections guided tours and school visit information",
    "hiking trails parks and cycling routes around the old town")

  def generate(spark: SparkSession, dir: String, seed: Long, n: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val nCities = 5 + rnd.nextInt(2)
    val hotShare = 0.55 + 0.1 * rnd.nextDouble()
    val cx = Seq.fill(nCities)(10.0 + 80.0 * rnd.nextDouble())
    val cy = Seq.fill(nCities)(10.0 + 80.0 * rnd.nextDouble())
    val rad = Seq.fill(nCities)(1.5 + 1.5 * rnd.nextDouble())
    def u(k: Int) =
      pmod(xxhash64(lit(seed), col("id"), lit(k)), lit(1L << 30)).cast("double") / (1L << 30)
    // city index skewed towards the first cities: floor(K * u^2)
    val city = floor(u(1) * u(1) * nCities).cast("int") + 1
    def coord(centres: Seq[Double], a: Int, b: Int) = {
      val hot = element_at(typedLit(centres), city) +
        (u(a) + u(b) - 1.0) * element_at(typedLit(rad), city)
      val v = when(u(0) < hotShare, hot).otherwise(u(a) * 100.0)
      (greatest(lit(0L), least(lit(9999L), floor(v * 100.0).cast("long")))
        .cast("double") / 100.0)
    }
    val snip = (k: Int) =>
      element_at(typedLit(snippets), (pmod(xxhash64(lit(seed), col("id"), lit(k)),
        lit(snippets.size.toLong)) + 1).cast("int"))
    val url = concat(lit("https://site"), pmod(col("id") * 7919L, lit(997L)).cast("string"),
      lit(".example/page/"), col("id").cast("string"))
    val text = concat(lit("page "), col("id").cast("string"), lit(": "), snip(10), lit(" "),
      repeat(concat(snip(11), lit(" ")), (pmod(xxhash64(lit(seed), col("id"), lit(12)),
        lit(24L)) + 8).cast("int")))
    val pages = spark.range(0, n, 1, 16).select(
      col("id").as("page_id"),
      url.as("url"),
      (lit(1700000000L) + col("id") * 13L).cast("timestamp").as("warc_ts"),
      concat(lit("<html><head><title>"), url, lit("</title></head><body><p>"), text,
        lit("</p></body></html>")).as("html"),
      text.as("text"),
      element_at(typedLit(Seq("en", "es", "fr", "de")),
        (pmod(xxhash64(lit(seed), col("id"), lit(13)), lit(4L)) + 1).cast("int")).as("lang"),
      coord(cy, 4, 5).as("lat"),
      coord(cx, 2, 3).as("lon"))
    pages.write.mode("overwrite").parquet(s"$dir/pages.parquet")

    // overlapping diamonds tile the field, so how many (page, zone)
    // candidates the hot spots create does not hinge on where they land
    val zones = (0 until zoneGrid * zoneGrid).map { k =>
      val zx = (800 + (k % zoneGrid) * 1400 - 200 + rnd.nextInt(400)) / 100.0 + 0.005
      val zy = (800 + (k / zoneGrid) * 1400 - 200 + rnd.nextInt(400)) / 100.0 + 0.005
      val r = (900 + rnd.nextInt(300)) / 100.0 + 0.003
      (k.toLong, zx, zy, r)
    }
    val sites = (0 until nSites).map(k =>
      Site(k.toLong, rnd.nextInt(10000) / 100.0, rnd.nextInt(10000) / 100.0))
    writeLines(s"$dir/zones.tsv", zones.map { case (k, x, y, r) => s"$k\t$x\t$y\t$r" })
    writeLines(s"$dir/sites.tsv", sites.map(s => s"${s.site_id}\t${s.x}\t${s.y}"))

    // expected answer, straight from the generated coordinates
    val pts = spark.read.parquet(s"$dir/pages.parquet").select("lon", "lat").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val zoneCounts = zones.map { case (k, zx, zy, r) =>
      k -> pts.count { case (x, y) => math.abs(x - zx) + math.abs(y - zy) < r }.toLong
    }.filter(_._2 > 0)
    val siteCounts = pts.map { case (x, y) =>
      var best = Double.MaxValue; var bestId = Long.MaxValue
      sites.foreach { s =>
        val dx = x - s.x; val dy = y - s.y; val d2 = dx * dx + dy * dy
        if (d2 < best || (d2 == best && s.site_id < bestId)) { best = d2; bestId = s.site_id }
      }
      bestId
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    writeLines(s"$dir/expected.tsv",
      zoneCounts.map { case (k, c) => s"z\t$k\t$c" } ++
        siteCounts.map { case (k, c) => s"s\t$k\t$c" })
  }

  /** (zone_id -> pages, site_id -> pages) */
  final case class Out(zones: Map[Long, Long], sites: Map[Long, Long])

  def open(spark: SparkSession, dir: String): Loaded = new Loaded {
    type R = Out
    private val pages = spark.read.parquet(s"$dir/pages.parquet")
    val inputRows: Long = pages.count()
    private val zones: Seq[Zone] = readLines(s"$dir/zones.tsv").map { l =>
      val Array(k, x, y, r) = l.split("\t")
      Zone(k.toLong, s"Z$k", "M", SynthGeo.diamond(x.toDouble, y.toDouble, r.toDouble))
    }
    private val sites: Seq[Site] = readLines(s"$dir/sites.tsv").map { l =>
      val Array(k, x, y) = l.split("\t"); Site(k.toLong, x.toDouble, y.toDouble)
    }
    private val expected: Out = {
      val rows = readLines(s"$dir/expected.tsv").map(_.split("\t"))
      def pick(t: String) = rows.filter(_(0) == t).map(a => a(1).toLong -> a(2).toLong).toMap
      Out(pick("z"), pick("s"))
    }

    def run(tr: Option[Tracer], work: File): Out = {
      import spark.implicits._
      val points = step(tr, "sources.scan") {
        pages.where(length(col("text")) > 0)
          .select(col("page_id").as("id"), col("lon").as("x"), col("lat").as("y"))
      } { df => val p = CacheBin.persist(df); (p, p.count(), Map.empty) }
      val zoneCounts = step(tr, "spatial.pip_join") {
        SpatialJoin.pipJoinCodegen(points, "id", "x", "y", zones, pipGrid)
          .groupBy("zone_id").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } { m => (m, m.size.toLong, Map.empty) }
      val siteCounts = step(tr, "spatial.knn") {
        SpatialJoin.nearestSiteJoin(points.as[IdPoint], sites, knnGrid)
          .groupBy("site_id").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } { m => (m, m.size.toLong, Map.empty) }
      Out(zoneCounts, siteCounts)
    }

    /** Cell-join candidates: (page, zone) pairs whose cells match, i.e.
      * pages in a cell of the zone's cover for the grid the join uses. The
      * point-in-polygon test runs inside the join condition, so the join
      * itself reports only matches. */
    private lazy val candidates: Long = {
      import spark.implicits._
      val cover = zones.flatMap(z => pipGrid.coverPolygon(z.geometry)).toDF("cell")
      pages.select(pipGrid.cellCol(col("lon"), col("lat")).as("cell"))
        .join(broadcast(cover), "cell").count()
    }

    override def probe(r: Out): Map[String, Double] =
      Map("spatial.pip_join.hit_ratio" -> r.zones.values.sum.toDouble / candidates)

    def check(r: Out): Seq[String] =
      diff("zone_count", expected.zones, r.zones) ++ diff("site_count", expected.sites, r.sites)

    def digest(r: Out): String = digestOf(
      r.zones.map { case (k, v) => s"z$k:$v" } ++ r.sites.map { case (k, v) => s"s$k:$v" })

    def corrupt(r: Out, how: String): Out = how match {
      case "drop" => r.copy(zones = r.zones - r.zones.keys.min)
      case _ =>
        val k = r.zones.keys.min
        r.copy(zones = r.zones - k + ((k + 1000L) -> r.zones(k)))
    }
  }
}
