package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.geom.{Geom, Pt}
import graft.sim.Similarity
import graft.spatial.{CellGrid, HexGrid, IdPoint, S2Grid, SpatialJoin, SynthGeo}
import graft.text.TextFns
import graft.clean.PolygonClean
import graft.pipeline.GeoPipeline

/** The engine's operator inventory exposed as driver-checkable queries.
  * Each entry pairs a Spark implementation with (where SQL-expressible) an
  * equivalent DuckDB oracle over the same parquet tables. Column names and
  * row ordering match exactly — the driver hash-compares values after
  * sorting columns by name.
  */
object Queries {

  /** q_ann_topk's hyperplane constants as a SQL VALUES list: the same
    * Similarity.hyperplanes(4, 64) weights the engine applies, rounded to
    * float exactly as lshBucket's literals are and printed with round-trip
    * precision so DuckDB recovers bit-identical doubles. `d` is 1-based to
    * align with generate_subscripts. */
  private lazy val annPlanesSql: String =
    graft.sim.Similarity.hyperplanes(4, 64).zipWithIndex.flatMap { case (p, b) =>
      p.zipWithIndex.map { case (w, d) => s"($b,${d + 1},${w.toFloat.toDouble})" }
    }.mkString(",")
  final case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // Spread.scan (guide §2.5) applied ONLY where the bench showed the scan
  // side carries expensive per-row work (regex/md5/vector math): for
  // cheap-scan or aggregate-first queries the extra exchange costs more
  // than the single-task scan and defeats map-side combining (measured:
  // a blanket spread taxed ~50 cheap queries +0.2-0.9 s each while the
  // scan-heavy set below gained 1-9 s)
  private def tSp(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Spread.scan(t(s, dir, name))

  // ---- shared synthetic-geo SQL fragments -------------------------------
  private val ptsCte = s"WITH pts AS (${SynthGeo.pointsSql})"
  private val zonesValues = SynthGeo.zonesSql
  private val sitesValues = SynthGeo.sitesSql

  // grid used by the cell-assignment query: origin 0, 10-unit cells, row
  // width 1000 so the oracle is floor(y/10)*1000 + floor(x/10)
  private val coarse = CellGrid(10.0, origin = 0.0, rowWidth = 1000L)
  // grid used for PIP candidates (zone diamonds are 9-19 units wide)
  private val pipGrid = CellGrid(8.0, origin = 0.0, rowWidth = 1L << 20)
  private val knnGrid = CellGrid(12.0, origin = 0.0, rowWidth = 1L << 20)
  private val radGrid = CellGrid(6.5, origin = 0.0, rowWidth = 1L << 20)

  private val entries: Seq[(String, Q)] = Seq(
    // ================= relational core (SURVEY §2.2) ====================
    // filtered scan + projection (BaseLayer.append(query=...), base.py:157-199)
    "q_filter_project" -> Q(
      (s, d) => t(s, d, "orders")
        .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 50000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
              WHERE o_orderstatus = 'O' AND o_totalprice > 50000
              ORDER BY o_orderkey""")),

    // regex xlink resolve (AddressLayer.resolve, address.py:42-46)
    "q_regex_resolve" -> Q(
      (s, d) => t(s, d, "events")
        .select(col("event_id"),
          regexp_extract(col("props"), "[0-9]+", 0).as("k_val"))
        .orderBy("event_id"),
      Some("""SELECT event_id, regexp_extract(props, '[0-9]+', 0) AS k_val
              FROM events ORDER BY event_id""")),

    // hash equi-join denormalization (BaseLayer.join_field, base.py:238-298)
    "q_join_field" -> Q(
      (s, d) => t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"), "left")
        .select("o_orderkey", "c_name", "c_mktsegment")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, c_name, c_mktsegment FROM orders
              LEFT JOIN customer ON o_custkey = c_custkey
              ORDER BY o_orderkey""")),

    // semi join (ParcelLayer.delete_void_parcels, parcel.py:44-54)
    "q_semi_join" -> Q(
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE c_custkey IN (SELECT o_custkey FROM orders)
              ORDER BY c_custkey""")),

    // anti join (AddressLayer.conflate delete branch, address.py:69-93)
    "q_anti_join" -> Q(
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 350000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE c_custkey NOT IN
                (SELECT o_custkey FROM orders WHERE o_totalprice > 350000)
              ORDER BY c_custkey""")),

    // dict translate + drop-missing (BaseLayer.translate_field, base.py:300-329)
    "q_translate_field" -> Q(
      (s, d) => {
        import s.implicits._
        val dict = Seq(("1-URGENT", "urgent"), ("2-HIGH", "high"), ("3-MEDIUM", "medium"))
          .toDF("k", "v")
        t(s, d, "orders")
          .join(broadcast(dict), col("o_orderpriority") === col("k"))
          .select(col("o_orderkey"), col("v").as("priority"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, t.v AS priority FROM orders
              JOIN (VALUES ('1-URGENT','urgent'), ('2-HIGH','high'),
                    ('3-MEDIUM','medium')) AS t(k, v)
              ON o_orderpriority = t.k
              ORDER BY o_orderkey""")),

    // grouped counts (report counters, report.py:190-260)
    "q_count_by" -> Q(
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // grouped max/min/sum (ConsLayer.get_parts, cons.py:175-192)
    "q_agg_parts" -> Q(
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(max("l_quantity").as("max_qty"), min("l_quantity").as("min_qty"),
          sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_parts"))
        .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey, max(l_quantity) AS max_qty,
              min(l_quantity) AS min_qty, sum(l_quantity) AS sum_qty,
              count(*) AS n_parts FROM lineitem
              GROUP BY l_orderkey ORDER BY l_orderkey""")),

    // per-group argmin via window (cdau.conflate nearest-update, cdau.py:212-278)
    "q_window_argmin" -> Q(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_orderkey")
          .orderBy(col("l_extendedprice"), col("l_linenumber"))
        t(s, d, "lineitem")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
                SELECT l_orderkey, l_linenumber, l_extendedprice,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_extendedprice, l_linenumber) AS rn
                FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""")),

    // exact distinct counts (BaseLayer.count(unique=...), base.py:475-486)
    "q_count_distinct" -> Q(
      (s, d) => t(s, d, "orders")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders")),
      Some("SELECT count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders FROM orders")),

    // multi-way join + agg (task stats shape, app.py:310-361)
    "q_multi_join" -> Q(
      (s, d) => t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name"),
      Some("""SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
              count(*) AS n_items
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              GROUP BY n_name ORDER BY n_name""")),

    // ================= spatial engine (SURVEY §2.3, north star) =========
    // UDF-free cell encoding + per-cell counts
    "q_cell_assign" -> Q(
      (s, d) => {
        val p = SynthGeo.points(s, d)
        p.toDF()
          .withColumn("cell", coarse.cellCol(col("x"), col("y")))
          .groupBy("cell").agg(count(lit(1)).as("n"))
          .orderBy("cell")
      },
      Some(s"""$ptsCte
              SELECT CAST(floor(y/10.0) AS BIGINT)*1000 + CAST(floor(x/10.0) AS BIGINT) AS cell,
              count(*) AS n FROM pts GROUP BY 1 ORDER BY cell""")),

    // Z-order hierarchical cell rollup — the S2-level-13 analog the north
    // rule names: geotags encode to a Morton key (pure shift/and/or column
    // math, whole-stage codegen), and every coarser level is `key >> 2Δ`
    // (morton(ix,iy)>>2 == morton(ix>>1,iy>>1)), so the multi-resolution
    // tile rollup is ONE pass + shifts — no re-encoding join, the shape H3
    // compaction uses. Axis indices are the raw integer geotag residues
    // (14-bit, level-13-ish resolution), so the oracle replays the exact
    // bits with the same ANSI shift arithmetic.
    "q_cell_rollup" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val ix = col("event_id") * lit(7919L) % lit(10000L)
        val iy = col("event_id") * lit(104729L) % lit(10000L)
        ev.select(graft.spatial.Morton.mortonCol(ix, iy).as("m"))
          .select(col("m"), explode(sequence(lit(0), lit(3))).as("level"))
          .select(col("level"), expr("shiftright(m, level * 2)").as("cell"))
          .groupBy("level", "cell").agg(count(lit(1)).as("n"))
          .orderBy("level", "cell")
      },
      Some {
        val m = graft.spatial.Morton.mortonSql(
          "(event_id*7919)%10000", "(event_id*104729)%10000")
        s"""WITH m AS (SELECT $m AS m FROM events),
            l AS (SELECT m, unnest(range(4)) AS level FROM m)
            SELECT level, m >> (level*2) AS cell, count(*) AS n
            FROM l GROUP BY 1, 2 ORDER BY level, cell"""
      }),

    // Z-order RANGE SCAN: an axis-aligned bbox query decomposed into a
    // bounded list of Morton-key intervals (spatial.ZRange quadtree
    // descent — the Tropf-Herzog BIGMIN family). On a Layout-clustered
    // table the intervals are plain pushed comparisons on the stored key
    // → parquet row-group pruning; the exact per-axis refinement makes
    // budget false-positives harmless, and the ORACLE (the bare bbox
    // predicate) proves the cover loses no rows. Geotags are the same
    // 14-bit integer residues q_cell_rollup encodes.
    "q_zrange" -> Q(
      (s, d) => {
        val (x0, x1, y0, y1) = (1200L, 3800L, 2500L, 6100L)
        val ranges = graft.spatial.ZRange.bboxRanges(x0, x1, y0, y1, bits = 14, maxRanges = 64)
        t(s, d, "events")
          .select(col("event_id").as("id"),
            (col("event_id") * lit(7919L) % lit(10000L)).as("ix"),
            (col("event_id") * lit(104729L) % lit(10000L)).as("iy"))
          .withColumn("m", graft.spatial.Morton.mortonCol(col("ix"), col("iy")))
          .where(graft.spatial.ZRange.rangesPredicate(col("m"), ranges))
          .where(col("ix").between(x0, x1) && col("iy").between(y0, y1))
          .select("id", "ix", "iy")
          .orderBy("id")
      },
      Some("""SELECT event_id AS id, (event_id*7919)%10000 AS ix,
                (event_id*104729)%10000 AS iy
              FROM events
              WHERE (event_id*7919)%10000 BETWEEN 1200 AND 3800
                AND (event_id*104729)%10000 BETWEEN 2500 AND 6100
              ORDER BY id""")),

    // TRUE spherical S2-style encode (cube-face gnomonic + quad Morton) of
    // page geotags at level 13, rolled up to level-6 parents — the literal
    // "per-page geotags are H3/S2-encoded" operator from the north star.
    // Pure column math (trig + CASE + shifts), no UDF; parent = one shift.
    // Oracle replays the identical arithmetic (S2Grid parity contract;
    // S2GridSpec guards the fp boundary margin on this corpus).
    "q_s2_cell" -> Q(
      (s, d) => SynthGeo.geoTags(s, d)
        .select(S2Grid.cellCol(col("lat"), col("lon"), 13).as("cell13"))
        .select(col("cell13"), S2Grid.parentCol(col("cell13"), 13, 6).as("cell6"))
        .groupBy("cell6")
        .agg(count(lit(1)).as("n"), min("cell13").as("first_cell"))
        .orderBy("cell6"),
      Some(s"""WITH src AS (${SynthGeo.geoTagsSql}),
              ${S2Grid.cellSqlCtes(13)}
              SELECT cell >> 14 AS cell6, count(*) AS n, min(cell) AS first_cell
              FROM s2cell GROUP BY 1 ORDER BY cell6""")),

    // spherical admin-boundary join: broadcast spatial hash join keyed on
    // level-6 covering cells (conservative lattice cover of each lat/lon
    // diamond, incl. one region straddling a cube-face edge) + EXACT
    // |dlat|+|dlon| refinement in the join condition. The oracle is
    // trig-free algebra, so its parity never depends on libm — the cover
    // only shapes the candidate set. The 10^12-row page side computes one
    // cell id and probes a broadcast; it never shuffles.
    "q_geo_join" -> Q(
      (s, d) => SynthGeo.geoTags(s, d)
        .withColumn("cell", S2Grid.cellCol(col("lat"), col("lon"), 6))
        .join(broadcast(S2Grid.regionSide(s, 6)), "cell")
        .where(abs(col("lat") - col("clat")) + abs(col("lon") - col("clon")) < col("rr"))
        .select(col("id"), col("region_id"))
        .orderBy("id", "region_id"),
      Some(s"""WITH geo AS (${SynthGeo.geoTagsSql})
              SELECT g.id, r.region_id FROM geo g JOIN ${SynthGeo.geoRegionsSql}
              ON abs(g.lat - r.clat) + abs(g.lon - r.clon) < r.rr
              ORDER BY g.id, r.region_id""")),

    // the graft's core motif fused end-to-end: web pages -> URL
    // canonicalization + host blocklist -> spherical cell encode ->
    // admin-boundary join -> per-(region, lang) rollup. One codegen'd
    // scan feeds the broadcast cell join; the ONLY corpus exchange is the
    // final partial-agg pair on (region_id, lang). The oracle composes
    // the url CTE chain with the trig-free region algebra. r06: the only
    // consumer of the canonical url here is the host test, so the filter
    // runs UrlOps.hostOfRaw (one regex, documented ≡ hostOf∘normalize)
    // and the unused canonicalization chain drops out of the scan.
    "q_geo_pipeline" -> Q(
      (s, d) => {
        val docs = tSp(s, d, "documents").select(
          col("doc_id"), col("lang"), col("n_chars"),
          graft.ops.UrlOps.messyUrl(
            expr("doc_id div 4"), col("doc_id")).as("url"),
          SynthGeo.latColOf(col("doc_id")).as("lat"),
          SynthGeo.lonColOf(col("doc_id")).as("lon"))
        docs
          .filter(!graft.ops.UrlOps.hostOfRaw(col("url"))
            .isin(graft.ops.UrlOps.BlockedHosts: _*))
          .withColumn("cell", S2Grid.cellCol(col("lat"), col("lon"), 6))
          .join(broadcast(S2Grid.regionSide(s, 6)), "cell")
          .where(abs(col("lat") - col("clat")) + abs(col("lon") - col("clon")) < col("rr"))
          .groupBy("region_id", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("tot_chars"))
          .orderBy("region_id", "lang")
      },
      Some(s"""WITH u AS (SELECT doc_id,
                ${graft.ops.UrlOps.messyUrlSql("doc_id // 4", "doc_id")} AS u FROM documents),
              ${graft.ops.UrlOps.normalizeSql("u")},
              g AS (SELECT d.doc_id, d.lang, d.n_chars,
                      ${SynthGeo.latSqlOf("d.doc_id")} AS lat,
                      ${SynthGeo.lonSqlOf("d.doc_id")} AS lon
                    FROM documents d JOIN f ON d.doc_id = f.doc_id
                    WHERE regexp_extract(f.url_norm, '^[a-z]+://([^/:?#]*)', 1)
                      NOT IN ('h3.example', 'h7.example', 'h11.example'))
              SELECT r.region_id, g.lang, count(*) AS n_docs, sum(g.n_chars) AS tot_chars
              FROM g JOIN ${SynthGeo.geoRegionsSql}
              ON abs(g.lat - r.clat) + abs(g.lon - r.clon) < r.rr
              GROUP BY 1, 2 ORDER BY region_id, lang""")),

    // incremental crawl-append: the corpus splits into a base crawl and a
    // later batch (doc_id % 7 == 3 — every url group keeps members on
    // both sides, and for ~1/7 of groups the batch holds the SURVIVING
    // min-doc_id revision, so the retraction path does real work: the
    // base survivor's (lang, n_chars, geo) contribution must be backed
    // out of the report, not just incremented past). The Spark side runs
    // base → canonical state → report, then folds the batch in via
    // GeoPipeline's mergeable-canonical + ±1-retraction algebra — the
    // corpus is never rescanned or reshuffled. The ORACLE is the full
    // recompute over base ∪ batch: hash equality IS the incremental-
    // equals-batch theorem, checked by DuckDB.
    "q_geo_incr" -> Q(
      (s, d) => {
        // blocklist test on the RAW url (hostOfRaw ≡ hostOf∘normalize, one
        // regex) so blocked rows never pay the canonicalization chain.
        // NOT persisted: an r06 A/B (pages cache vs recompute) measured a
        // wash locally — the base/batch branches' duplicate messyUrl+host
        // work is one regex pass, while the cache materialization races
        // the concurrent broadcast-build jobs and would pin a corpus-wide
        // projection at production scale
        val pages = tSp(s, d, "documents").select(
          col("doc_id"), col("lang"), col("n_chars"),
          graft.ops.UrlOps.messyUrl(
            expr("doc_id div 4"), col("doc_id")).as("u"))
          .filter(!graft.ops.UrlOps.hostOfRaw(col("u"))
            .isin(graft.ops.UrlOps.BlockedHosts: _*))
          .select(col("doc_id"), col("lang"), col("n_chars"),
            graft.ops.UrlOps.normalize(col("u")).as("url_norm"))
        val base = pages.filter(col("doc_id") % 7 =!= 3)
        val batch = pages.filter(col("doc_id") % 7 === 3)
        // the stored state tables (at scale: url-bucketed parquet stages)
        val baseCanon = graft.CacheBin.persist(GeoPipeline.canonPartial(base))
        val baseReport = GeoPipeline.reportOf(baseCanon)
        GeoPipeline.incrementalReport(baseCanon, baseReport, batch)
          .orderBy("region_id", "lang")
      },
      Some(s"""WITH u AS (SELECT doc_id,
                ${graft.ops.UrlOps.messyUrlSql("doc_id // 4", "doc_id")} AS u FROM documents),
              ${graft.ops.UrlOps.normalizeSql("u")},
              pg AS (SELECT d.doc_id, d.lang, d.n_chars, f.url_norm
                    FROM documents d JOIN f ON d.doc_id = f.doc_id
                    WHERE regexp_extract(f.url_norm, '^[a-z]+://([^/:?#]*)', 1)
                      NOT IN ('h3.example', 'h7.example', 'h11.example')),
              cn AS (SELECT url_norm, min(doc_id) AS doc_id,
                      arg_min(lang, doc_id) AS lang,
                      arg_min(n_chars, doc_id) AS n_chars
                    FROM pg GROUP BY 1),
              g AS (SELECT cn.lang, cn.n_chars,
                      ${SynthGeo.latSqlOf("cn.doc_id")} AS lat,
                      ${SynthGeo.lonSqlOf("cn.doc_id")} AS lon FROM cn)
              SELECT r.region_id, g.lang, count(*) AS n_docs,
                sum(g.n_chars) AS tot_chars
              FROM g JOIN ${SynthGeo.geoRegionsSql}
              ON abs(g.lat - r.clat) + abs(g.lon - r.clon) < r.rr
              GROUP BY 1, 2 ORDER BY region_id, lang""")),

    // hexagonal cell encode (the H3-res-9 analog; HexGrid) at two sizes:
    // fine occupancy histogram. Pure +,-,*,/,floor,abs,CASE column math —
    // no trig, so the oracle replay is BIT-exact with no margin argument
    // (HexGridSpec pins the SQL text against the Column tree too).
    "q_hex_cell" -> Q(
      (s, d) => SynthGeo.points(s, d).toDF()
        .select(col("id"), HexGrid.cellCol(col("x"), col("y"), 2.5).as("cell"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n"), min("id").as("first_id"))
        .orderBy("cell"),
      Some(s"""WITH src AS (${SynthGeo.pointsSql}),
              ${HexGrid.cellSqlCtes(2.5)}
              SELECT cell, count(*) AS n, min(id) AS first_id
              FROM hexcell GROUP BY 1 ORDER BY cell""")),

    // hex rollup fine -> coarse: hex lattices don't nest, so the parent is
    // the cell CONTAINING THE FINE CENTER at the coarse size (H3's own
    // parent relation is the same approximate center-containment). Engine:
    // one partial-agg pair to fine cells, then pure column math to the
    // parent — the corpus never shuffles twice on raw rows. Oracle chains
    // the encode CTEs twice via the prefix parameter.
    "q_hex_rollup" -> Q(
      (s, d) => SynthGeo.points(s, d).toDF()
        .select(HexGrid.cellCol(col("x"), col("y"), 2.5).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .withColumn("parent", HexGrid.parentCol(col("cell"), 2.5, 7.5))
        .groupBy("parent")
        .agg(sum("n").as("n_pts"), count(lit(1)).as("n_cells"))
        .orderBy("parent"),
      Some(s"""WITH src AS (${SynthGeo.pointsSql}),
              ${HexGrid.cellSqlCtes(2.5)},
              fine AS (SELECT cell, count(*) AS n FROM hexcell GROUP BY 1),
              ctr AS (SELECT cell AS id,
                        ${HexGrid.centerXSql("cell", 2.5)} AS x,
                        ${HexGrid.centerYSql("cell", 2.5)} AS y
                      FROM fine),
              ${HexGrid.cellSqlCtes(7.5, "phex", "ctr")}
              SELECT p.cell AS parent, CAST(sum(f.n) AS BIGINT) AS n_pts, count(*) AS n_cells
              FROM fine f JOIN phexcell p ON f.cell = p.id
              GROUP BY 1 ORDER BY parent""")),

    // hex 6-neighbor ring smoothing: ring_n(cell) = points in the cell and
    // its 6 neighbors. Neighbor ids are PURE ID ARITHMETIC (cell + dq*2^21
    // + dr — HexGrid packs axial coords multiplicatively), so the ring
    // expansion is a 7-row generator over per-cell COUNTS (not raw rows):
    // corpus pays one partial-agg shuffle, the ring pays a counts-sized one.
    "q_hex_ring" -> Q(
      (s, d) => HexGrid.ringSmooth(SynthGeo.points(s, d).toDF(), 2.5).orderBy("cell"),
      Some(s"""WITH src AS (${SynthGeo.pointsSql}),
              ${HexGrid.cellSqlCtes(2.5)},
              cnts AS (SELECT cell, count(*) AS n FROM hexcell GROUP BY 1),
              offs(off) AS (VALUES ${(0L +: HexGrid.neighborOffsets).map(o => s"($o)").mkString(", ")}),
              ring AS (SELECT c.cell + o.off AS tgt, CAST(sum(c.n) AS BIGINT) AS ring_n
                       FROM cnts c CROSS JOIN offs o GROUP BY 1)
              SELECT c.cell, c.n, r.ring_n FROM cnts c JOIN ring r ON c.cell = r.tgt
              ORDER BY c.cell""")),

    // hex-keyed spatial hash join — the north star's headline operator with
    // the H3-style key: zones exploded per covering hex cell (driver-side
    // over the 12-row dim only, HexGrid.coverDiamond), broadcast; the
    // corpus side computes ONE cell id and probes, then the EXACT
    // |dx|+|dy| < r predicate refines. The oracle is the trig-free exact
    // join — the cover only shapes the candidate set, so parity never
    // depends on the cover at all.
    "q_hex_join" -> Q(
      (s, d) => SynthGeo.points(s, d).toDF()
        .withColumn("cell", HexGrid.cellCol(col("x"), col("y"), 7.5))
        .join(broadcast(HexGrid.zoneSide(s, 7.5)), "cell")
        .where(abs(col("x") - col("zcx")) + abs(col("y") - col("zcy")) < col("zr"))
        .select(col("id"), col("zone_id"))
        .orderBy("id", "zone_id"),
      Some(s"""WITH pts AS (${SynthGeo.pointsSql})
              SELECT p.id, z.zone_id FROM pts p JOIN ${SynthGeo.zonesSql}
              ON abs(p.x - z.cx) + abs(p.y - z.cy) < z.r
              ORDER BY p.id, z.zone_id""")),

    // the flagship join with the HEX key — the north star's literal
    // "spatial hash join keyed on H3 res-9 covering cells with an exact
    // ray-casting PIP refinement": HexGrid.coverPolygon (pruned) explodes
    // the zone side, the corpus computes one native hex_cell id, and
    // PointInPolygonExpr refines in the join condition. Same closed-form
    // diamond oracle as q_pip_join — the cover never affects the answer.
    "q_hex_pip" -> Q(
      (s, d) => SpatialJoin
        .pipJoinHex(SynthGeo.points(s, d).toDF(), "id", "x", "y", SynthGeo.zones, 2.5)
        .orderBy("id", "zone_id"),
      Some(s"""$ptsCte
              SELECT p.id, z.zone_id FROM pts p
              JOIN $zonesValues ON abs(p.x - z.cx) + abs(p.y - z.cy) < z.r
              ORDER BY p.id, z.zone_id""")),

    // flagship: cell-join + exact ray-casting PIP (set_zones, parcel.py:91-114)
    // — the codegen path: broadcast hash join on cell id + native
    // PointInPolygonExpr refinement, all in one WholeStageCodegen stage
    "q_pip_join" -> Q(
      (s, d) => SpatialJoin
        .pipJoinCodegen(SynthGeo.points(s, d).toDF(), "id", "x", "y", SynthGeo.zones, pipGrid)
        .orderBy("id", "zone_id"),
      Some(s"""$ptsCte
              SELECT p.id, z.zone_id FROM pts p
              JOIN $zonesValues ON abs(p.x - z.cx) + abs(p.y - z.cy) < z.r
              ORDER BY p.id, z.zone_id""")),

    // pages-per-zone-tile (the BASELINE throughput metric's query shape)
    "q_zone_count" -> Q(
      (s, d) => SpatialJoin
        .pipJoinCodegen(SynthGeo.points(s, d).toDF(), "id", "x", "y", SynthGeo.zones, pipGrid)
        .groupBy("zone_id").agg(count(lit(1)).as("n"))
        .orderBy("zone_id"),
      Some(s"""$ptsCte
              SELECT z.zone_id, count(*) AS n FROM pts p
              JOIN $zonesValues ON abs(p.x - z.cx) + abs(p.y - z.cy) < z.r
              GROUP BY z.zone_id ORDER BY z.zone_id""")),

    // cell-local kNN (move_address nearest-edge, cons.py:428-490)
    "q_knn_nearest" -> Q(
      (s, d) => SpatialJoin
        .nearestSiteJoin(SynthGeo.points(s, d), SynthGeo.sites, knnGrid)
        .orderBy("id"),
      Some(s"""$ptsCte
              SELECT id, site_id FROM (
                SELECT p.id, s.site_id, row_number() OVER (PARTITION BY p.id
                  ORDER BY (p.x-s.sx)*(p.x-s.sx) + (p.y-s.sy)*(p.y-s.sy), s.site_id) AS rn
                FROM pts p CROSS JOIN $sitesValues) WHERE rn = 1
              ORDER BY id""")),

    // the SAME nearest join through the Dataset-partitioned scale path
    // (granularity-doubling equi-join; for site sides beyond broadcast)
    "q_knn_partitioned" -> Q(
      (s, d) => {
        import s.implicits._
        SpatialJoin.nearestSiteJoinPartitioned(
          SynthGeo.points(s, d), s.createDataset(SynthGeo.sites), baseCell = 12.0)
          .orderBy("id")
      },
      Some(s"""$ptsCte
              SELECT id, site_id FROM (
                SELECT p.id, s.site_id, row_number() OVER (PARTITION BY p.id
                  ORDER BY (p.x-s.sx)*(p.x-s.sx) + (p.y-s.sy)*(p.y-s.sy), s.site_id) AS rn
                FROM pts p CROSS JOIN $sitesValues) WHERE rn = 1
              ORDER BY id""")),

    // radius probe join (cdau 5m R-tree probe, cdau.py:241-243)
    "q_radius_join" -> Q(
      (s, d) => SpatialJoin
        .radiusJoin(SynthGeo.points(s, d), SynthGeo.sites, radGrid, 6.5)
        .orderBy("id", "site_id"),
      Some(s"""$ptsCte
              SELECT p.id, s.site_id FROM pts p
              JOIN $sitesValues
              ON (p.x-s.sx)*(p.x-s.sx) + (p.y-s.sy)*(p.y-s.sy) <= 42.25
              ORDER BY p.id, s.site_id""")),

    // the SAME radius join through the Dataset-partitioned scale path
    // (site side exploded into its 3x3 neighborhood, point side single-keyed)
    "q_radius_partitioned" -> Q(
      (s, d) => {
        import s.implicits._
        SpatialJoin.radiusJoinPartitioned(
          SynthGeo.points(s, d), s.createDataset(SynthGeo.sites), radGrid, 6.5)
          .orderBy("id", "site_id")
      },
      Some(s"""$ptsCte
              SELECT p.id, s.site_id FROM pts p
              JOIN $sitesValues
              ON (p.x-s.sx)*(p.x-s.sx) + (p.y-s.sy)*(p.y-s.sy) <= 42.25
              ORDER BY p.id, s.site_id""")),

    // vector -> raster: each zone rasterized to its covering cell set (the
    // ZoningLayer -> tile-grid direction of the north rule's raster<->vector
    // tile assignment; CellGrid.coverPolygon, the candidate generator of
    // every spatial join here). The engine runs the generic pruned cover
    // (boundary supercover + interior run fill); the oracle replays it in
    // closed form for diamonds — a cell square intersects |x-cx|+|y-cy|<=r
    // iff its L1 distance to the center is <= r. Exact-touch ties cannot
    // occur: zone params have 3 decimals, cell edges are integers.
    "q_rasterize" -> Q(
      (s, d) => {
        import s.implicits._
        s.createDataset(SynthGeo.zones)
          .flatMap(z => coarse.coverPolygon(z.geometry).map(c => (z.zone_id, c)))
          .toDF("zone_id", "cell")
          .orderBy("zone_id", "cell")
      },
      Some(s"""WITH zs AS (SELECT * FROM $zonesValues),
              xs AS (SELECT zone_id, cx, cy, r, unnest(range(CAST(floor((cx-r)/10) AS BIGINT),
                       CAST(floor((cx+r)/10) AS BIGINT) + 1)) AS gx FROM zs),
              cs AS (SELECT zone_id, cx, cy, r, gx, unnest(range(CAST(floor((cy-r)/10) AS BIGINT),
                       CAST(floor((cy+r)/10) AS BIGINT) + 1)) AS gy FROM xs)
              SELECT zone_id, gy*1000 + gx AS cell
              FROM cs
              WHERE greatest(0, gx*10.0 - cx, cx - gx*10.0 - 10.0)
                  + greatest(0, gy*10.0 - cy, cy - gy*10.0 - 10.0) <= r
              ORDER BY 1, 2""")),

    // areal interpolation (area-weighted reaggregation): each zone's value
    // split over its covering cells ∝ exact zone∩cell overlap area, summed
    // per cell. The ENGINE runs the generic pruned-cover + convex-clip
    // kernel; the zones are integer rectangles whose areas are 2^a·5^b so
    // the oracle's closed-form interval-overlap shares are exact at 6
    // decimals (see SynthGeo.arealZoneParams).
    "q_areal_interp" -> Q(
      (s, d) => {
        import s.implicits._
        graft.spatial.Interpolate.arealReaggregate(
          s.createDataset(graft.spatial.SynthGeo.arealZones), coarse)
          .orderBy("cell")
      },
      Some(s"""WITH zs AS (SELECT * FROM ${graft.spatial.SynthGeo.arealZonesSql}),
              xs AS (SELECT *, unnest(range(x0//10, (x0+w)//10 + 1)) AS gx FROM zs),
              cs AS (SELECT *, unnest(range(y0//10, (y0+h)//10 + 1)) AS gy FROM xs),
              ov AS (SELECT CAST(gy*1000 + gx AS BIGINT) AS cell,
                       v * (least(x0+w, gx*10+10) - greatest(x0, gx*10))
                         * (least(y0+h, gy*10+10) - greatest(y0, gy*10))
                         / (w*h*1.0) AS part
                     FROM cs
                     WHERE least(x0+w, gx*10+10) > greatest(x0, gx*10)
                       AND least(y0+h, gy*10+10) > greatest(y0, gy*10))
              SELECT cell, round(sum(part), 6) AS value
              FROM ov GROUP BY cell ORDER BY cell""")),

    // raster -> vector: the covering cell set reassembled into its boundary
    // polygon (edge-cancellation union + collinear simplify); a bbox cover
    // is a rectangle, so the closed form is area = nx*ny*cell² and exactly
    // 4 boundary vertices
    "q_vectorize" -> Q(
      (s, d) => {
        import s.implicits._
        s.createDataset(SynthGeo.zones)
          .flatMap { z =>
            // (gx, gy) kept unpacked: zone bboxes cross the axes, where a
            // packed id is not injective
            val b = Geom.bbox(z.geometry)
            for (gy <- coarse.cellY(b.ymin) to coarse.cellY(b.ymax);
                 gx <- coarse.cellX(b.xmin) to coarse.cellX(b.xmax))
              yield (z.zone_id, gx, gy)
          }
          .groupByKey(_._1)
          .mapGroups { (zid, it) =>
            val squares = it.map { case (_, gx, gy) =>
              val (x0, y0) = (gx * 10.0, gy * 10.0)
              Array(Array(Pt(x0, y0), Pt(x0 + 10, y0),
                Pt(x0 + 10, y0 + 10), Pt(x0, y0 + 10)))
            }.toSeq
            val union = graft.ops.ParcelOps.unionOuterRings(squares)
            val rings = union.map(p => PolygonClean.simplifyRing(p.head))
            (zid, rings.map(r => Geom.ringArea(r)).sum, rings.map(_.length).sum)
          }
          .toDF("zone_id", "area", "n_vertices")
          .orderBy("zone_id")
      },
      Some(s"""SELECT zone_id,
                CAST((CAST(floor((cx+r)/10) AS BIGINT) - CAST(floor((cx-r)/10) AS BIGINT) + 1)
                  * (CAST(floor((cy+r)/10) AS BIGINT) - CAST(floor((cy-r)/10) AS BIGINT) + 1)
                  * 100 AS DOUBLE) AS area,
                4 AS n_vertices
              FROM $zonesValues ORDER BY zone_id""")),

    // shoelace area per zone (BaseLayer.get_area, polygon.py:33-35)
    "q_zone_area" -> Q(
      (s, d) => {
        import s.implicits._
        SynthGeo.zones
          .map(z => (z.zone_id, BigDecimal(Geom.area(z.geometry))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
          .toDF("zone_id", "area")
          .orderBy("zone_id")
          .as("zone_areas")
      },
      Some(s"""SELECT zone_id, round(2*r*r, 6) AS area FROM $zonesValues
              ORDER BY zone_id""")),

    // cleanup pipeline golden check: noisy polygons -> dedupe+simplify
    // (PolygonLayer.clean, polygon.py:598-607); expected counts are golden
    // values: 12 noisy vertices (4 corners + 4 near-dups + 4 midpoints)
    // reduce to exactly the 4 corners.
    "q_clean_polygons" -> Q(
      (s, d) => {
        import s.implicits._
        val noisy = SynthGeo.zones.map { z =>
          val ring = z.geometry.head.head
          val n = ring.length
          val withNoise = ring.zipWithIndex.flatMap { case (v, i) =>
            val nxt = ring((i + 1) % n)
            val dx = nxt.x - v.x; val dy = nxt.y - v.y
            val len = math.sqrt(dx * dx + dy * dy)
            Seq(
              v,
              Pt(v.x + dx / len * 0.005, v.y + dy / len * 0.005), // near-dup
              Pt(v.x + dx / 2, v.y + dy / 2))                     // straight midpoint
          }
          (z.zone_id, withNoise)
        }
        s.createDataset(noisy)
          .map { case (zid, ring) =>
            val cleaned = PolygonClean.simplifyRing(
              PolygonClean.mergeCloseVertices(ring))
            (zid, ring.length.toLong, cleaned.length.toLong)
          }
          .toDF("zone_id", "n_before", "n_after")
          .orderBy("zone_id")
      },
      Some(SynthGeo.zoneParams
        .map { case (k, _, _, _) => s"($k, 12, 4)" }
        .mkString("SELECT * FROM (VALUES ", ", ",
          ") AS t(zone_id, n_before, n_after) ORDER BY zone_id"))),

    // grouped collect (index_of_parts / get_parts lists, cons.py:93-124):
    // deterministic via sort_array before join to string
    "q_group_parts" -> Q(
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(concat_ws(",", sort_array(collect_list(col("l_linenumber")))).as("parts"),
          count(lit(1)).as("n"))
        .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey,
              string_agg(l_linenumber, ',' ORDER BY l_linenumber) AS parts,
              count(*) AS n
              FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""")),

    // label formatting + level decode + image-link templating
    // (ZoningLayer.format_label/check_zone zoning.py:51-73;
    //  AddressLayer.get_image_links address.py:144-150)
    "q_format_label" -> Q(
      (s, d) => t(s, d, "orders")
        .select(
          col("o_orderkey"),
          format_string("%05d", col("o_orderkey") % 100000).as("label"),
          when(col("o_orderstatus") === "O", "M").otherwise("P").as("level"),
          concat(lit("https://catastro.example/ref/"),
            substring(format_string("%09d", col("o_orderkey")), -6, 6)).as("image"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
              printf('%05d', o_orderkey % 100000) AS label,
              CASE WHEN o_orderstatus = 'O' THEN 'M' ELSE 'P' END AS level,
              'https://catastro.example/ref/' ||
                substr(printf('%09d', o_orderkey), -6, 6) AS image
              FROM orders ORDER BY o_orderkey""")),

    // composite-key conflation (AddressLayer.conflate, address.py:69-93:
    // drop rows whose street+number key exists in the current OSM set)
    "q_addr_conflate" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val existing = docs.filter(col("doc_id") % 7 === 0)
          .select(concat_ws(":", col("lang"), col("source")).as("k")).distinct()
        docs
          .withColumn("k", concat_ws(":", col("lang"), col("source")))
          .join(broadcast(existing), Seq("k"), "left_anti")
          .select("doc_id", "k")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang || ':' || source AS k FROM documents
              WHERE lang || ':' || source NOT IN
                (SELECT DISTINCT lang || ':' || source FROM documents
                 WHERE doc_id % 7 = 0)
              ORDER BY doc_id""")),

    // ============ building/parcel domain (SURVEY §2.5-2.6) ==============
    // explode multipolygon parts (explode_multi_parts, polygon.py:51-84)
    "q_explode_parts" -> Q(
      (s, d) => {
        import s.implicits._
        val k = graft.layers.SynthCadastre.nClusters(s, d)
        s.range(0L, k)
          .as[Long]
          .map { fid =>
            // feature fid owns (fid % 3) + 1 disjoint 10x10 squares
            val parts = (0 until (fid % 3 + 1).toInt).map { j =>
              val x0 = fid * 50.0 + j * 20.0
              Array(Array(graft.geom.Pt(x0, 0), graft.geom.Pt(x0 + 10, 0),
                graft.geom.Pt(x0 + 10, 10), graft.geom.Pt(x0, 10)))
            }.toArray
            (fid, parts)
          }
          .flatMap { case (fid, mp) =>
            graft.clean.PolygonClean.explodeParts(mp).zipWithIndex.map {
              case (part, i) => (fid, i.toLong, graft.geom.Geom.area(part))
            }
          }
          .toDF("fid", "part_idx", "area")
          .orderBy("fid", "part_idx")
      },
      Some("""WITH f AS (SELECT event_id AS fid FROM events
                WHERE event_id < (SELECT count(*)//100 FROM events)),
              e AS (SELECT fid, unnest(range(0, fid % 3 + 1)) AS part_idx FROM f)
              SELECT fid, part_idx, CAST(100 AS DOUBLE) AS area
              FROM e ORDER BY fid, part_idx""")),

    // shared-segment adjacency -> connected components
    // (get_adjacents_and_geometries + merge_groups, polygon.py:134-159)
    "q_adjacency_components" -> Q(
      (s, d) => graft.ops.Adjacency.components(
        graft.layers.SynthCadastre.buildings(s, d))
        .orderBy("bid"),
      Some(s"""WITH u AS (SELECT event_id AS id FROM events
              WHERE event_id < (SELECT count(*)//100 FROM events)*5),
              b AS (SELECT id AS bid FROM u WHERE id%5 < (id//5)%4 + 2)
              SELECT bid, (bid//5)*5 AS comp FROM b ORDER BY bid""")),

    // cross-feature vertex snap (topology(dup_thr), polygon.py:161-272):
    // shared corners perturbed below dupThr must snap back so adjacency
    // components recover the exact closed-form clusters
    "q_topology_snap" -> Q(
      (s, d) => {
        import s.implicits._
        val perturbed = graft.layers.SynthCadastre.buildings(s, d)
          .map { b =>
            if (b.bid % 5 == 0) graft.clean.Feature(b.bid, b.ring)
            else {
              val r = b.ring.clone()
              r(0) = graft.geom.Pt(r(0).x + 0.004, r(0).y + 0.003) // bottom-left
              r(3) = graft.geom.Pt(r(3).x - 0.003, r(3).y - 0.002) // top-left
              graft.clean.Feature(b.bid, r)
            }
          }
        val snapped = graft.clean.Topology.snapVertices(perturbed)
          .map(f => graft.layers.Building(f.fid, 0L, 0L, f.ring))
        graft.ops.Adjacency.components(snapped).orderBy("bid")
      },
      Some(s"""WITH u AS (SELECT event_id AS id FROM events
              WHERE event_id < (SELECT count(*)//100 FROM events)*5),
              b AS (SELECT id AS bid FROM u WHERE id%5 < (id//5)%4 + 2)
              SELECT bid, (bid//5)*5 AS comp FROM b ORDER BY bid""")),

    // geometry union per component: interior-edge cancellation + chaining
    // (merge_geometries / merge_adjacents, polygon.py:526-574)
    "q_union_geoms" -> Q(
      (s, d) => graft.ops.Adjacency.unionByComponent(
        graft.layers.SynthCadastre.buildings(s, d))
        .orderBy("comp"),
      Some(s"""WITH u AS (SELECT event_id AS id FROM events
              WHERE event_id < (SELECT count(*)//100 FROM events)*5),
              ks AS (SELECT DISTINCT id//5 AS k FROM u WHERE id%5 < (id//5)%4 + 2)
              SELECT k*5 AS comp, k%4+2 AS n_buildings,
                CAST((k%4+2)*100 AS DOUBLE) AS union_area,
                CAST(4 AS BIGINT) AS n_vertices
              FROM ks ORDER BY comp""")),

    // greedy parts-count packing per zone (merge_by_parts_count,
    // parcel.py:214-264); parts=1 makes the closed form oracle-expressible
    "q_tile_pack" -> Q(
      (s, d) => graft.ops.Adjacency.greedyPack(
        graft.layers.SynthCadastre.parcels(s, d))
        .orderBy("parcel_id"),
      Some(s"""WITH u AS (SELECT event_id AS id FROM events
              WHERE event_id < (SELECT count(*)//100 FROM events)*5),
              p AS (SELECT id AS parcel_id, (id//5)//10 AS zone FROM u
                    WHERE id%5 < (id//5)%4 + 2)
              SELECT parcel_id, zone,
                (row_number() OVER (PARTITION BY zone ORDER BY parcel_id)-1)//20 AS tile
              FROM p ORDER BY parcel_id""")),

    // the tiling merge through the DISTRIBUTED per-municipality wrapper on a
    // closed-form layout: unit squares in edge-snapped clusters of <=5 per
    // doc_id//5, clusters 1000 apart -> each cluster greedy-merges into its
    // min id, so the relabel map is a window-min (merge_by_parts_count,
    // parcel.py:266-273, via groupByKey(mun).cogroup)
    "q_tile_relabel" -> Q(
      (s, d) => {
        import s.implicits._
        val parcels = t(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val x0 = (id / 5) * 1000.0 + (id % 5)
            graft.ops.ParcelOps.MunParcel("m", id, graft.ops.ParcelOps.Parcel(
              f"P$id%06d", "00001", 1,
              Array(Array(Array(Pt(x0, 0), Pt(x0 + 1, 0), Pt(x0 + 1, 1), Pt(x0, 1))))))
          }
        graft.ops.ParcelOps.mergeByPartsCountByMun(parcels, maxParts = 20, buffer = 100.0)
          .filter(r => r.taskFrom != null)
          .map(r => (r.taskFrom, r.taskTo))
          .toDF("task_from", "task_to")
          .orderBy("task_from")
      },
      Some("""SELECT printf('P%06d', doc_id) AS task_from,
                printf('P%06d', min(doc_id) OVER (PARTITION BY doc_id//5)) AS task_to
              FROM documents ORDER BY task_from""")),

    // building x parts x pools cogroup (merge_building_parts,
    // cons.py:270-354): outline inherits max levels; per-ref row counts are
    // closed-form (distinct levels -> no merges on this layout)
    "q_merge_parts" -> Q(
      (s, d) => {
        import s.implicits._
        val rows = graft.layers.SynthCadastre.buildings(s, d)
          .groupByKey(_.cluster)
          .flatMapGroups { (k, it) =>
            val bs = it.toSeq.sortBy(_.bid)
            val m = bs.length
            val x0 = bs.head.ring(0).x; val y0 = bs.head.ring(0).y
            val outline = graft.ops.BuildingParts.ConsRow(
              f"B$k%06d", k.toString, "building", 0, 0, 0, "",
              Array(Array(Array(
                graft.geom.Pt(x0, y0), graft.geom.Pt(x0 + 10.0 * m, y0),
                graft.geom.Pt(x0 + 10.0 * m, y0 + 10), graft.geom.Pt(x0, y0 + 10)))))
            val parts = bs.zipWithIndex.map { case (b, j) =>
              graft.ops.BuildingParts.ConsRow(
                f"B$k%06d_part$j", k.toString, "part", j + 1, 0, 0, "",
                Array(Array(b.ring)))
            }
            outline +: parts
          }
        graft.ops.BuildingParts.mergeBuildingParts(rows)
          .groupByKey(_.ref)
          .mapGroups { (ref, it) =>
            val g = it.toSeq
            val b = g.find(_.kind == "building").get
            (ref.toLong, b.levAbove, b.levBelow, g.size.toLong)
          }
          .toDF("ref", "lev_above", "lev_below", "n_rows")
          .orderBy("ref")
      },
      Some(s"""WITH ks AS (SELECT event_id AS k FROM events
              WHERE event_id < (SELECT count(*)//100 FROM events))
              SELECT k AS ref, CAST(k%4+2 AS INT) AS lev_above,
                CAST(0 AS INT) AS lev_below,
                k%4+3 AS n_rows
              FROM ks ORDER BY ref""")),

    // address -> nearest building edge conjoin (move_address, cons.py:428-490)
    "q_move_address" -> Q(
      (s, d) => graft.ops.Conjoin.moveAddress(
        graft.layers.SynthCadastre.addresses(s, d),
        graft.layers.SynthCadastre.buildings(s, d))
        .orderBy("bid"),
      Some(s"""WITH u AS (SELECT event_id AS id FROM events
              WHERE event_id < (SELECT count(*)//100 FROM events)*5),
              b AS (SELECT id AS bid,
                      ((id//5)%10)*100 + (id%5)*10 AS x0,
                      ((id//5)//10)*100 AS y0
                    FROM u WHERE id%5 < (id//5)%4 + 2)
              SELECT bid, round(CAST(x0 AS DOUBLE), 6) AS proj_x,
                round(y0 + 4.13, 6) AS proj_y,
                round(3.37*3.37, 6) AS d2
              FROM b ORDER BY bid""")),

    // polygon->zone assignment by the >=50%-area rule (set_zones +
    // is_inside_area, parcel.py:91-114 / geo/tools.py:11-19). The ENGINE
    // runs its generic convex-clipping operator; the zones are axis-aligned
    // rectangles so the oracle's overlap is closed-form (w_x × w_y, with
    // w_y exactly 4 by construction — see SynthGeo.rectZoneParams margins).
    // The diamond-zone flavor of the same operator stays brute-force-
    // verified in AreaAssignSpec.
    "q_zone_assign_area" -> Q(
      (s, d) => {
        import s.implicits._
        val parcels = graft.spatial.SynthGeo.parcelParams(s, d)
          .map { case (id, px0, py0) =>
            val ring = Array(
              graft.geom.Pt(px0, py0), graft.geom.Pt(px0 + 4, py0),
              graft.geom.Pt(px0 + 4, py0 + 4), graft.geom.Pt(px0, py0 + 4))
            (id, ring)
          }
        graft.spatial.SpatialJoin.assignZonesByArea(
          parcels, graft.spatial.SynthGeo.rectZones,
          graft.spatial.CellGrid(8.0, origin = -100.0, rowWidth = 1L << 20))
          .orderBy("id", "zone_id")
      },
      Some(s"""WITH p AS (${graft.spatial.SynthGeo.parcelSql})
              SELECT p.id, z.zone_id
              FROM p JOIN ${graft.spatial.SynthGeo.rectZonesSql}
                ON z.zrow = p.id % 3
               AND least(p.px0 + 4, z.zx1) - greatest(p.px0, z.zx0) >= 2
              ORDER BY id, zone_id""")),

    // the -s split-boundary filter (get_split + is_inside_area zone cut,
    // app.py:214-258) over a CONCAVE boundary: an L-shaped rectilinear
    // split polygon runs the signed-triangle-fan clip kernel distributed
    // (Split.filterD), while the oracle computes the same ≥50%-area rule
    // closed-form as interval-overlap products over the L's two rectangles.
    // Bounds sit on .005 offsets of the .01 coordinate grid: overlap totals
    // are multiples of 2.5e-5, so the round(·,6) threshold test can never
    // straddle an engine-vs-oracle fp gap (exact-0.5 overlaps DO occur and
    // must classify identically — Split.keep's documented rounding guard).
    "q_split_filter" -> Q(
      (s, d) => {
        import s.implicits._
        val L = Array(
          graft.geom.Pt(0.005, 0.005), graft.geom.Pt(45.005, 0.005),
          graft.geom.Pt(45.005, 30.005), graft.geom.Pt(20.005, 30.005),
          graft.geom.Pt(20.005, 60.005), graft.geom.Pt(0.005, 60.005))
        val poly = graft.ops.Split.SplitPoly(L, Seq.empty)
        graft.ops.Split
          .filterD[(Long, Double, Double)](
            graft.spatial.SynthGeo.parcelParams(s, d), Seq(poly),
            t => Array(Array(Array(
              graft.geom.Pt(t._2, t._3), graft.geom.Pt(t._2 + 1, t._3),
              graft.geom.Pt(t._2 + 1, t._3 + 1), graft.geom.Pt(t._2, t._3 + 1)))))
          .map(_._1).toDF("id").orderBy("id")
      },
      Some(s"""WITH p AS (${graft.spatial.SynthGeo.parcelSql})
              SELECT id FROM p
              WHERE round(
                greatest(0, least(px0+1, 45.005) - greatest(px0, 0.005)) *
                greatest(0, least(py0+1, 30.005) - greatest(py0, 0.005)) +
                greatest(0, least(px0+1, 20.005) - greatest(px0, 0.005)) *
                greatest(0, least(py0+1, 60.005) - greatest(py0, 30.005)), 6) >= 0.5
              ORDER BY id""")),

    // END-TO-END multi-municipality pipeline (app.run over N muns at once,
    // Dataset-native orchestration): 4 coordinate-disjoint synthetic
    // municipalities flow through the full chain + tiling merges +
    // move_address + task documents with zero driver feature collects;
    // per-mun task/feature/address/parcel counts are closed-form
    "q_apprun_multi" -> Q(
      (s, d) => {
        import s.implicits._
        val (cons, parcels, addrs) = graft.layers.SynthMuni.inputs(s, d)
        val mr = graft.pipeline.AppRun.runMulti(
          s, cons, parcels, addrs, graft.layers.SynthMuni.munOf)
        val summary = s.createDataset(mr.metrics).toDF("mun", "key", "value")
          .groupBy("mun")
          .agg(
            max(when(col("key") === "tasks", col("value"))).as("n_tasks"),
            max(when(col("key") === "out_features", col("value"))).as("n_features"),
            max(when(col("key") === "out_address", col("value"))).as("n_address"),
            max(when(col("key") === "out_address_entrance", col("value")))
              .as("n_entrance"),
            max(when(col("key") === "parts_to_outline", col("value")))
              .as("n_parts_merged"))
          .join(mr.parcels.groupBy("mun").agg(count(lit(1)).as("n_parcels")), "mun")
          .orderBy("mun")
        summary
      },
      // closed forms per mun (K = 5t buildings): parts exist for k%3==0 and
      // merge to the outline; entrances for k%2==0 survive moved
      Some("""WITH c AS (SELECT (count(*)//100) AS t FROM events)
              SELECT 'M' || CAST(m AS VARCHAR) AS mun, t AS n_tasks,
                5*t AS n_features, 5*t AS n_address,
                (5*t+1)//2 AS n_entrance, (5*t+2)//3 AS n_parts_merged,
                t AS n_parcels
              FROM c CROSS JOIN (VALUES (0),(1),(2),(3)) AS ms(m)
              ORDER BY mun""")),

    // entrance snapping with classification (move_entrance, cons.py:371-426):
    // each building's entrance probes its left wall — shared for every
    // building except the cluster's first, so the classification is
    // closed-form: bid%5==0 -> moved Entrance, else 'shared' (unmoved)
    "q_move_entrance" -> Q(
      (s, d) => {
        import s.implicits._
        val bs = graft.layers.SynthCadastre.buildings(s, d)
        val ads = bs.map { b =>
          graft.ops.Conjoin.Entrance(b.bid, b.cluster, "Entrance",
            b.ring(0).x - 3.37, b.ring(0).y + 4.13)
        }
        val (out, _) = graft.ops.Conjoin.moveEntrances(ads, bs)
        out.select(col("ad_id"), col("spec"),
          round(col("x"), 6).as("x"), round(col("y"), 6).as("y"))
          .orderBy("ad_id")
      },
      Some(s"""WITH u AS (SELECT event_id AS id FROM events
              WHERE event_id < (SELECT count(*)//100 FROM events)*5),
              b AS (SELECT id AS bid,
                      ((id//5)%10)*100 + (id%5)*10 AS x0,
                      ((id//5)//10)*100 AS y0
                    FROM u WHERE id%5 < (id//5)%4 + 2)
              SELECT bid AS ad_id,
                CASE WHEN bid%5=0 THEN 'Entrance' ELSE 'shared' END AS spec,
                CASE WHEN bid%5=0 THEN round(CAST(x0 AS DOUBLE), 6)
                     ELSE round(x0 - 3.37, 6) END AS x,
                round(y0 + 4.13, 6) AS y
              FROM b ORDER BY ad_id""")),

    // CRS reprojection (reproject(), base.py:201-236): the engine's own
    // Transverse Mercator kernel; oracle gates the round-trip invariant
    // (every synthetic UTM point survives UTM->WGS84->UTM within 1mm)
    "q_reproject" -> Q(
      (s, d) => {
        import s.implicits._
        graft.spatial.SynthGeo.points(s, d)
          .map { p =>
            // site the synthetic field into UTM zone 28N fixture range
            val x = 350000.0 + p.x * 100; val y = 3120000.0 + p.y * 100
            val (lon, lat) = graft.geom.Utm.utmToWgs84(28, x, y)
            val (x2, y2) = graft.geom.Utm.wgs84ToUtm(28, lon, lat)
            (p.id, math.abs(x2 - x) < 1e-3 && math.abs(y2 - y) < 1e-3)
          }
          .toDF("id", "ok")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("ok"), 1L).otherwise(0L)).as("n_roundtrip"))
      },
      Some("SELECT count(*) AS n_total, count(*) AS n_roundtrip FROM events")),

    // byte-identical text-extraction invariant (input_hint; the reference's
    // fix_encoding discipline, catatom.py:178-202)
    "q_extract_text" -> Q(
      (s, d) => graft.sources.Pages.invariantCheck(
        graft.sources.Pages.fromDocuments(s, d)),
      Some("SELECT count(*) AS n_total, count(*) AS n_match FROM documents")),

    // latest-snapshot-per-url dedup — the canonical Common-Crawl revision
    // collapse (input_hint's url/warc_ts columns): each url's crawl
    // history is synthesized deterministically (1 + doc_id%3 snapshots,
    // ts strictly increasing), and ONE groupBy(url) with map-side partial
    // max/max_by keeps the newest revision — shuffle on url, no window
    // sort, the plan that survives 10^12 pages. Timestamps are integer
    // epoch seconds so both engines aggregate the exact same values.
    "q_url_latest" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val snaps = docs
          .select(col("doc_id"),
            explode(sequence(lit(0L), col("doc_id") % 3)).as("k"))
          .select(
            concat(lit("https://synth.example/doc/"), col("doc_id")).as("url"),
            (lit(1704067200L) + col("k") * 86400L).as("ts_s"),
            concat(lit("rev"), col("k")).as("rev"))
        snaps.groupBy("url")
          .agg(max("ts_s").as("latest_ts"),
            expr("max_by(rev, ts_s)").as("latest_rev"),
            count(lit(1)).as("n_snapshots"))
          .orderBy("url")
      },
      Some("""WITH s AS (
                SELECT doc_id, unnest(range(doc_id % 3 + 1)) AS k FROM documents
              )
              SELECT 'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
                     max(1704067200 + k*86400) AS latest_ts,
                     arg_max('rev' || CAST(k AS VARCHAR), 1704067200 + k*86400) AS latest_rev,
                     count(*) AS n_snapshots
              FROM s GROUP BY 1 ORDER BY url""")),

    // URL canonicalization (the RefinedWeb/C4 stage-1 analog of the
    // reference's id-normalization discipline: catatom.py cod_mun
    // zero-padding, address.py:42-46 xlink '#' stripping). Messy
    // deterministic URLs -> canonical form via pure regex/HOF column
    // math — scan-shaped at 10^12 pages, zero shuffle before the oracle
    // gate's sort. Regexes restricted to Java/RE2-identical syntax.
    "q_url_normalize" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          graft.ops.UrlOps.messyUrl(col("doc_id"), col("doc_id")).as("u"))
        .select(col("doc_id"),
          graft.ops.UrlOps.normalize(col("u")).as("url_norm"))
        .orderBy("doc_id"),
      Some(s"""WITH u AS (SELECT doc_id,
                ${graft.ops.UrlOps.messyUrlSql("doc_id", "doc_id")} AS u FROM documents),
              ${graft.ops.UrlOps.normalizeSql("u")}
              SELECT doc_id, url_norm FROM f ORDER BY doc_id""")),

    // host blocklist + canonical-URL collapse: each canonical page
    // appears under 4 noisy spellings (page identity = doc_id/4, noise =
    // doc_id); normalize (scan-shaped), drop blocked hosts (broadcast
    // anti — blocklists are never corpus-sized), keep one survivor per
    // canonical url with map-side-combinable min/count. The ONE corpus
    // exchange is the groupBy on the canonical key — the q_url_latest
    // revision-collapse shape.
    "q_url_filter" -> Q(
      (s, d) => {
        val pages = t(s, d, "documents")
          // integer `div`, not fp floor(x/4): doubles lose exactness past
          // 2^53 and the oracle's `doc_id // 4` is exact at any width
          .select(col("doc_id"),
            graft.ops.UrlOps.messyUrl(
              expr("doc_id div 4"), col("doc_id")).as("u"))
          .select(col("doc_id"),
            graft.ops.UrlOps.normalize(col("u")).as("url_norm"))
        graft.ops.UrlOps.filterAndCollapse(pages, "doc_id", "url_norm")
          .orderBy("url_norm")
      },
      Some(s"""WITH u AS (SELECT doc_id,
                ${graft.ops.UrlOps.messyUrlSql("doc_id // 4", "doc_id")} AS u FROM documents),
              ${graft.ops.UrlOps.normalizeSql("u")},
              h AS (SELECT doc_id, url_norm,
                      regexp_extract(url_norm, '^[a-z]+://([^/:?#]*)', 1) AS host FROM f)
              SELECT url_norm, min(doc_id) AS canonical_id, count(*) AS n_dups
              FROM h WHERE host NOT IN ('h3.example', 'h7.example', 'h11.example')
              GROUP BY 1 ORDER BY url_norm""")),

    // blocked Bloom-filter membership (dedup/Bloom.scala): corpus = even
    // doc urls, probes = all urls. The filter is deliberately UNDERSIZED
    // (8 words × 62 bits for ~250 keys) so false positives are exercised
    // — and because every bit comes from the md5-48 idiom, DuckDB rebuilds
    // the identical bit table and the fp rows hash-match exactly. `truth`
    // rides along so the output itself witnesses zero false negatives.
    "q_bloom_probe" -> Q(
      (s, d) => {
        import graft.dedup.Bloom
        val url = concat(lit("https://synth.example/doc/"), col("doc_id"))
        val docs = t(s, d, "documents").select(col("doc_id"), url.as("url"))
        val corpus = docs.filter(col("doc_id") % 2 === 0)
        val f = Bloom.build(corpus, "url", nWords = 16L)
        Bloom.probe(f, docs, "url", nWords = 16L)
          .withColumn("truth", col("doc_id") % 2 === 0)
          .select("doc_id", "url", "maybe_seen", "truth")
          .orderBy("doc_id")
      },
      Some {
        import graft.dedup.Bloom
        s"""WITH docs AS (SELECT doc_id,
                'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) AS url
              FROM documents),
            f AS (SELECT ${Bloom.wordSql("url", 16L)} AS w,
                    bit_or(${Bloom.maskSql("url")}) AS bits
                  FROM docs WHERE doc_id % 2 = 0 GROUP BY 1)
            SELECT doc_id, url,
              coalesce((bits & ${Bloom.maskSql("url")}) = ${Bloom.maskSql("url")},
                false) AS maybe_seen,
              doc_id % 2 = 0 AS truth
            FROM docs LEFT JOIN f ON ${Bloom.wordSql("url", 16L)} = f.w
            ORDER BY doc_id"""
      }),

    // mirror-host detection (WebGraph.mirrorHosts): each canonical
    // content (doc_id div 5) is served by 5 hosts (doc_id % 20), so
    // near-aligned host pairs share ~tens of identical documents. The
    // content key is the bucket — the standard bucketed-candidate
    // discipline with the lossy hot-content cap replayed in the oracle.
    "q_mirror_hosts" -> Q(
      (s, d) => {
        val pages = t(s, d, "documents").select(
          concat(lit("h"), (col("doc_id") % 20).cast("string")).as("host"),
          md5(concat(lit("content"), expr("doc_id div 5").cast("string"))).as("ck"))
        graft.ops.WebGraph.mirrorHosts(pages, "host", "ck",
            minShared = 2L, maxHostsPerContent = 16L)
          .orderBy("host_a", "host_b")
      },
      Some("""WITH hc AS (SELECT DISTINCT
                'h' || CAST(doc_id % 20 AS VARCHAR) AS h,
                md5('content' || CAST(doc_id // 5 AS VARCHAR)) AS ck
              FROM documents),
            ok AS (SELECT * FROM hc WHERE ck IN (
                SELECT ck FROM hc GROUP BY ck HAVING count(*) <= 16)),
            n AS (SELECT h, count(*) AS n FROM hc GROUP BY h),
            p AS (SELECT l.h AS host_a, r.h AS host_b, count(*) AS shared
                  FROM ok l JOIN ok r ON l.ck = r.ck AND l.h < r.h
                  GROUP BY 1, 2 HAVING count(*) >= 2)
            SELECT host_a, host_b, shared, na.n AS n_a, nb.n AS n_b,
              round(CAST(shared AS DOUBLE) / (na.n + nb.n - shared), 6) AS jaccard
            FROM p JOIN n na ON p.host_a = na.h JOIN n nb ON p.host_b = nb.h
            ORDER BY host_a, host_b""")),

    // windowed crawl diff (UrlOps.crawlDiff): latest revision per url in
    // two consecutive crawl windows, diffed in ONE groupBy(url) pass with
    // conditional struct-max arg-max aggregates (no snapshot self-join,
    // no window sort). Synthesis covers all four statuses: doc_id%2=1
    // urls start late (new), %4=0 early-only (removed), the rest span
    // both windows and split changed/unchanged by the content key.
    "q_crawl_diff" -> Q(
      (s, d) => {
        val base = 1704067200L
        val snaps = t(s, d, "documents")
          .select(col("doc_id"),
            explode(sequence(lit(0L), col("doc_id") % 4)).as("k"))
          .select(
            concat(lit("https://synth.example/doc/"), col("doc_id")).as("url"),
            (lit(base) + (col("k") + (col("doc_id") % 2) * 2L) * 86400L).as("ts_s"),
            concat(lit("v"), expr("(doc_id % 3 + k) div 4").cast("string")).as("rev"))
        graft.ops.UrlOps.crawlDiff(snaps, "url", "ts_s", "rev",
            t0 = base, t1 = base + 86400L, t2 = base + 3 * 86400L)
          .orderBy("url")
      },
      Some("""WITH s AS (SELECT
                'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
                1704067200 + (k + (doc_id % 2) * 2) * 86400 AS ts_s,
                'v' || CAST((doc_id % 3 + k) // 4 AS VARCHAR) AS rev
              FROM (SELECT doc_id, unnest(range(doc_id % 4 + 1)) AS k FROM documents)),
            g AS (SELECT url,
                arg_max(rev, ts_s) FILTER (WHERE ts_s <= 1704067200 + 86400) AS rev1,
                arg_max(rev, ts_s) FILTER (WHERE ts_s > 1704067200 + 86400) AS rev2
              FROM s WHERE ts_s >= 1704067200 AND ts_s <= 1704067200 + 3*86400
              GROUP BY url)
            SELECT url, rev1, rev2,
              CASE WHEN rev1 IS NULL THEN 'new'
                   WHEN rev2 IS NULL THEN 'removed'
                   WHEN rev1 = rev2 THEN 'unchanged'
                   ELSE 'changed' END AS status
            FROM g ORDER BY url""")),

    // crawl-frontier politeness scheduling (UrlOps.politenessSchedule):
    // one row_number window per host — the per-host sort IS the
    // semantics (politeness serializes a host by design); priority =
    // the md5-48 bucket so both engines rank identically.
    "q_politeness" -> Q(
      (s, d) => {
        val f = t(s, d, "documents").select(
          concat(lit("https://synth.example/doc/"), col("doc_id")).as("url"),
          concat(lit("h"), (col("doc_id") % 20).cast("string")).as("host"),
          TextFns.hashBucket(col("doc_id").cast("string"), 1000).as("prio"))
        graft.ops.UrlOps.politenessSchedule(f, "host", "url", "prio",
            startTs = 1704067200L, delaySec = 2L)
          .orderBy("url")
      },
      Some("""WITH f AS (SELECT
                'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
                'h' || CAST(doc_id % 20 AS VARCHAR) AS host,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 1000 AS prio
              FROM documents)
            SELECT url, host, prio,
              CAST(row_number() OVER (PARTITION BY host ORDER BY prio DESC, url) - 1 AS BIGINT) AS slot,
              1704067200 + (row_number() OVER (PARTITION BY host ORDER BY prio DESC, url) - 1) * 2 AS fetch_ts
            FROM f ORDER BY url""")),

    // redirect-chain resolution (UrlOps.resolveRedirects): pointer
    // doubling over a synthetic functional redirect graph — every doc_id
    // not divisible by 16 redirects to doc_id - 1, so chains run up to 15
    // hops and the doubling resolves them in ceil(log2(15)) = 4 join
    // rounds (+1 convergence confirm) where per-hop walking would take
    // 15. The oracle replays the walk as a recursive-CTE closure and
    // keeps the terminal row per source.
    "q_redirects" -> Q(
      (s, d) => {
        val edges = t(s, d, "documents")
          .filter(col("doc_id") % 16 =!= 0)
          .select(col("doc_id").as("src"), (col("doc_id") - 1).as("dst"))
        graft.ops.UrlOps.resolveRedirects(edges).orderBy("src")
      },
      Some("""WITH RECURSIVE e AS (
                SELECT doc_id AS src, doc_id - 1 AS dst FROM documents
                WHERE doc_id % 16 <> 0),
              r(src, cur, hops) AS (
                SELECT src, dst, CAST(1 AS BIGINT) FROM e
                UNION ALL
                SELECT r.src, e.dst, r.hops + 1 FROM r JOIN e ON e.src = r.cur)
              SELECT src, cur AS final_dst, hops, TRUE AS resolved
              FROM r WHERE cur NOT IN (SELECT src FROM e)
              ORDER BY src""")),

    // robots-rule compliance (UrlOps.robotsFilter): longest BYTE-prefix
    // wins per RFC 9309, as a broadcast host-keyed join with startsWith
    // refined in the condition + struct-argmax — no per-url sort.
    // Rules/paths are synthesized so all three outcomes occur: longest
    // rule OVERRIDES a shorter opposite rule, '/r' hard-blocks, and
    // unmatched paths default to allowed.
    "q_robots" -> Q(
      (s, d) => {
        val r = s.range(16).select(col("id").as("i"))
        def host(c: org.apache.spark.sql.Column) = concat(lit("h"), c)
        val rules = r.select(host(col("i")).as("host"),
            concat(lit("/p"), col("i") % 4).as("prefix"),
            (col("i") % 2 === 1).as("allow"))
          .unionByName(r.select(host(col("i")).as("host"),
            concat(lit("/p"), col("i") % 4, lit("/q"), col("i") % 3).as("prefix"),
            (col("i") % 2 === 0).as("allow")))
          .unionByName(r.select(host(col("i")).as("host"),
            lit("/r").as("prefix"), lit(false).as("allow")))
        val urls = t(s, d, "documents").select(
          col("doc_id").as("id"), host(col("doc_id") % 16).as("host"),
          when(col("doc_id") % 7 === 0, concat(lit("/r/s"), col("doc_id")))
            .otherwise(concat(lit("/p"), col("doc_id") % 5,
              lit("/q"), col("doc_id") % 3, lit("/d"), col("doc_id")))
            .as("path"))
        graft.ops.UrlOps.robotsFilter(urls, rules)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH u AS (SELECT doc_id, 'h' || CAST(doc_id % 16 AS VARCHAR) AS host,
                CASE WHEN doc_id % 7 = 0 THEN '/r/s' || CAST(doc_id AS VARCHAR)
                     ELSE '/p' || CAST(doc_id % 5 AS VARCHAR) || '/q' ||
                       CAST(doc_id % 3 AS VARCHAR) || '/d' || CAST(doc_id AS VARCHAR)
                END AS path
              FROM documents),
              r AS (SELECT 'h' || CAST(i AS VARCHAR) AS host,
                      '/p' || CAST(i % 4 AS VARCHAR) AS prefix, i % 2 = 1 AS allow
                    FROM range(16) t(i)
                    UNION ALL SELECT 'h' || CAST(i AS VARCHAR),
                      '/p' || CAST(i % 4 AS VARCHAR) || '/q' || CAST(i % 3 AS VARCHAR),
                      i % 2 = 0 FROM range(16) t(i)
                    UNION ALL SELECT 'h' || CAST(i AS VARCHAR), '/r', FALSE
                    FROM range(16) t(i)),
              m AS (SELECT u.doc_id, r.prefix, r.allow,
                      row_number() OVER (PARTITION BY u.doc_id
                        ORDER BY len(r.prefix) DESC) AS rn
                    FROM u JOIN r ON r.host = u.host
                      AND starts_with(u.path, r.prefix))
              SELECT u.doc_id, u.host, u.path, m.prefix AS matched_prefix,
                coalesce(m.allow, TRUE) AS allowed
              FROM u LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
                ON m.doc_id = u.doc_id
              ORDER BY u.doc_id""")),

    // connected components over a synthetic host graph (4 path
    // components of 30 hosts each — path depth exercises the round
    // behavior): the same distributed alternating-star operator the
    // building-adjacency queries use (Adjacency.connectedComponents),
    // replayed by the oracle as a recursive-CTE closure.
    "q_host_components" -> Q(
      (s, d) => {
        val hosts = t(s, d, "documents")
          .select((col("doc_id") % 120).as("bid")).distinct()
        val edges = t(s, d, "documents")
          .select((col("doc_id") % 120).as("a"), (col("doc_id") % 120 + 4).as("b"))
          .filter(col("b") < 120).distinct()
        graft.ops.Adjacency.connectedComponents(hosts, edges)
          .select(col("bid").as("host_id"), col("comp"))
          .orderBy("host_id")
      },
      Some("""WITH RECURSIVE hosts AS (SELECT DISTINCT doc_id % 120 AS id FROM documents),
              e0 AS (SELECT DISTINCT doc_id % 120 AS a, doc_id % 120 + 4 AS b
                     FROM documents WHERE doc_id % 120 + 4 < 120),
              e AS (SELECT a AS s, b AS d FROM e0 UNION ALL SELECT b, a FROM e0),
              r(id, m) AS (
                SELECT id, id FROM hosts
                UNION
                SELECT e.s, r.m FROM e JOIN r ON r.id = e.d)
              SELECT id AS host_id, min(m) AS comp
              FROM r GROUP BY id ORDER BY host_id""")),

    // incremental component maintenance under edge DELTAS
    // (Adjacency.incrementalComponents): the crawl-ingest pattern —
    // yesterday's labels stand, today's delta edges contract onto the
    // current component roots and only the contracted (delta-bounded)
    // graph is re-solved. Labels are min-vertex ids, so the result is
    // bit-identical to a full recompute over base ∪ delta, which is
    // exactly what the oracle's recursive closure computes. The delta
    // includes brand-new vertices (200..) and self-loop-prone edges.
    "q_cc_incr" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val verts = docs.select((col("doc_id") % 150).as("bid")).distinct()
        val baseE = docs
          .select((col("doc_id") % 150).as("a"), (col("doc_id") % 150 + 5).as("b"))
          .filter(col("b") < 150).distinct()
        val labels0 = graft.ops.Adjacency.connectedComponents(verts, baseE)
        val deltaE = docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") % 150).as("a"),
            (col("doc_id") * 13 % 150).as("b")).distinct()
          .unionByName(docs.filter(col("doc_id") % 37 === 0)
            .select((col("doc_id") % 150).as("a"),
              (col("doc_id") % 23 + 200).as("b")).distinct())
        graft.ops.Adjacency.incrementalComponents(labels0, deltaE)
          .select(col("bid").as("host_id"), col("comp"))
          .orderBy("host_id")
      },
      Some("""WITH RECURSIVE
              b0 AS (SELECT DISTINCT doc_id % 150 AS a, doc_id % 150 + 5 AS b
                     FROM documents WHERE doc_id % 150 + 5 < 150),
              d0 AS (SELECT DISTINCT doc_id % 150 AS a, doc_id * 13 % 150 AS b
                     FROM documents WHERE doc_id % 11 = 0
                     UNION
                     SELECT DISTINCT doc_id % 150, doc_id % 23 + 200
                     FROM documents WHERE doc_id % 37 = 0),
              allv AS (SELECT DISTINCT doc_id % 150 AS id FROM documents
                       UNION SELECT a FROM d0 UNION SELECT b FROM d0),
              e0 AS (SELECT a, b FROM b0 UNION SELECT a, b FROM d0),
              e AS (SELECT a AS s, b AS d FROM e0 WHERE a <> b
                    UNION ALL SELECT b, a FROM e0 WHERE a <> b),
              r(id, m) AS (
                SELECT id, id FROM allv
                UNION
                SELECT e.s, r.m FROM e JOIN r ON r.id = e.d)
              SELECT id AS host_id, min(m) AS comp
              FROM r GROUP BY id ORDER BY host_id""")),

    // deterministic random walks (WebGraph.randomWalks — the DeepWalk
    // corpus-generation primitive): 4-step walks from every 10th vertex
    // of a synthetic 400-vertex link graph, each hop picked by
    // md5-48(start:v:step) % outdeg among dst-ordered neighbors. The
    // oracle replays the identical hash arithmetic in a recursive CTE,
    // so paths (incl. dead-end truncation) are bit-exact cross-engine.
    "q_walk_sample" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val e = docs.select((col("doc_id") % 400).as("src"),
            ((col("doc_id") * 7 + 1) % 400).as("dst"))
          .unionByName(docs.select((col("doc_id") % 400).as("src"),
            ((col("doc_id") * 13 + 5) % 400).as("dst")))
        val starts = docs.select((col("doc_id") % 400).as("v"))
          .distinct().filter(col("v") % 10 === 0)
        graft.ops.WebGraph.randomWalks(e, starts, walkLen = 4)
          .orderBy("start", "step")
      },
      Some("""WITH RECURSIVE
              e0 AS (SELECT DISTINCT doc_id % 400 AS src, (doc_id*7+1) % 400 AS dst
                     FROM documents
                     UNION
                     SELECT DISTINCT doc_id % 400, (doc_id*13+5) % 400 FROM documents),
              e AS (SELECT src, dst FROM e0 WHERE src <> dst),
              nb AS (SELECT src, dst,
                       row_number() OVER (PARTITION BY src ORDER BY dst) AS rn,
                       count(*) OVER (PARTITION BY src) AS outdeg FROM e),
              walk(start, step, v) AS (
                SELECT v, 0, v FROM (SELECT DISTINCT doc_id % 400 AS v
                                     FROM documents WHERE doc_id % 400 % 10 = 0)
                UNION ALL
                SELECT w.start, w.step + 1, nb.dst
                FROM walk w JOIN nb ON nb.src = w.v
                  AND nb.rn = ('0x' || substr(md5(CAST(w.start AS VARCHAR) || ':' ||
                    CAST(w.v AS VARCHAR) || ':' || CAST(w.step + 1 AS VARCHAR)),
                    1, 12))::BIGINT % nb.outdeg + 1
                WHERE w.step < 4)
              SELECT start, step, v FROM walk ORDER BY start, step""")),

    // GraphSAGE-style 2-hop neighborhood aggregation
    // (WebGraph.neighborhoodAgg): per vertex, sum+count of out-neighbor
    // features (hop 1) and of the neighbors' hop-1 aggregates (hop 2 =
    // length-2 path sums — the decomposition that never materializes
    // 2-hop pairs). Integer features keep the sums exact at any
    // parallelism; the oracle replays the two join+agg rounds.
    "q_nbr_agg" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val e = docs.select((col("doc_id") % 300).as("src"),
            ((col("doc_id") * 11 + 2) % 300).as("dst"))
          .unionByName(docs.select((col("doc_id") % 300).as("src"),
            ((col("doc_id") * 17 + 5) % 300).as("dst")))
          .distinct()
        val f = docs.select((col("doc_id") % 300).as("v")).distinct()
          .select(col("v"), (col("v") * col("v") % 97).as("f"))
        graft.ops.WebGraph.neighborhoodAgg(e, f).orderBy("v")
      },
      Some("""WITH e AS (SELECT DISTINCT src, dst FROM (
                SELECT doc_id % 300 AS src, (doc_id*11+2) % 300 AS dst FROM documents
                UNION ALL
                SELECT doc_id % 300, (doc_id*17+5) % 300 FROM documents)),
              f AS (SELECT v, v*v % 97 AS f
                    FROM (SELECT DISTINCT doc_id % 300 AS v FROM documents)),
              h1 AS (SELECT e.src AS v, sum(f.f) AS h1_sum, count(*) AS h1_cnt
                     FROM e JOIN f ON f.v = e.dst GROUP BY e.src),
              h2 AS (SELECT e.src AS v, sum(h1.h1_sum) AS h2_sum,
                       sum(h1.h1_cnt) AS h2_cnt
                     FROM e JOIN h1 ON h1.v = e.dst GROUP BY e.src)
              SELECT f.v, coalesce(h1.h1_sum, 0) AS h1_sum,
                coalesce(h1.h1_cnt, 0) AS h1_cnt,
                coalesce(h2.h2_sum, 0) AS h2_sum,
                coalesce(h2.h2_cnt, 0) AS h2_cnt
              FROM f LEFT JOIN h1 ON h1.v = f.v LEFT JOIN h2 ON h2.v = f.v
              ORDER BY f.v""")),

    // skip-gram training-pair counts (text/SkipGram.pairCounts): all
    // (center, context) pairs within ±2 tokens, counted corpus-wide —
    // built inside ONE codegen projection (2-arg transform + flatten +
    // single explode), so the only shuffle is the vocabulary-bounded
    // final groupBy. The oracle replays the window arithmetic with
    // lateral ranges over the split token list.
    "q_skipgram" -> Q(
      (s, d) => graft.text.SkipGram
        .pairCounts(tSp(s, d, "documents"), col("text"), window = 2)
        .orderBy("center", "context"),
      Some("""WITH toks AS (SELECT list_filter(string_split(text, ' '),
                  x -> x <> '') AS l FROM documents),
              pos AS (SELECT l, unnest(range(len(l))) AS i FROM toks),
              ctx AS (SELECT l, i, l[i+1] AS center,
                        unnest(range(greatest(i-2, 0),
                          least(i+2, len(l)-1) + 1)) AS j
                      FROM pos),
              p2 AS (SELECT center, l[j+1] AS context FROM ctx WHERE j <> i)
              SELECT center, context, count(*) AS n
              FROM p2 GROUP BY center, context
              ORDER BY center, context""")),

    // common-neighbor link-prediction features (WebGraph.linkPredict):
    // candidate pairs scored with shared-neighbor counts + degrees over
    // the undirected simple graph — candidate-driven (two equi-joins
    // against adjacency), never the deg²-per-hub all-wedge enumeration.
    // Integer features only; the oracle replays the joins.
    "q_link_predict" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val e = docs.select((col("doc_id") % 200).as("src"),
            ((col("doc_id") * 7 + 3) % 200).as("dst"))
          .unionByName(docs.select((col("doc_id") % 200).as("src"),
            ((col("doc_id") * 11 + 9) % 200).as("dst")))
        val cand = docs.select((col("doc_id") % 200).as("a"),
          ((col("doc_id") * 13 + 1) % 200).as("b"))
        graft.ops.WebGraph.linkPredict(e, cand).orderBy("a", "b")
      },
      Some("""WITH e0 AS (SELECT doc_id % 200 AS src, (doc_id*7+3) % 200 AS dst
                FROM documents
                UNION ALL SELECT doc_id % 200, (doc_id*11+9) % 200 FROM documents),
              und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                      FROM e0 WHERE src <> dst),
              adj AS (SELECT a AS v, b AS nbr FROM und
                      UNION ALL SELECT b, a FROM und),
              deg AS (SELECT v, count(*) AS deg FROM adj GROUP BY v),
              cand AS (SELECT DISTINCT least(a0, b0) AS a, greatest(a0, b0) AS b
                       FROM (SELECT doc_id % 200 AS a0, (doc_id*13+1) % 200 AS b0
                             FROM documents) WHERE a0 <> b0),
              cm AS (SELECT c.a, c.b, count(*) AS common
                     FROM cand c JOIN adj x ON x.v = c.a
                       JOIN adj y ON y.v = c.b AND y.nbr = x.nbr
                     GROUP BY c.a, c.b)
              SELECT c.a, c.b, coalesce(cm.common, 0) AS common,
                coalesce(da.deg, 0) AS deg_a, coalesce(db.deg, 0) AS deg_b
              FROM cand c LEFT JOIN cm ON cm.a = c.a AND cm.b = c.b
              LEFT JOIN deg da ON da.v = c.a
              LEFT JOIN deg db ON db.v = c.b
              ORDER BY c.a, c.b""")),

    // deterministic word2vec negative sampling (SkipGram.negatives):
    // k=3 negatives per vocab word, drawn at frequency rank
    // md5-48(center:j) % V — every table vocabulary-sized, the one
    // corpus pass is the map-side-combined word count. The oracle
    // rebuilds the identical rank table and hash draw.
    "q_skipgram_neg" -> Q(
      (s, d) => graft.text.SkipGram
        .negatives(t(s, d, "documents"), col("text"), k = 3)
        .select(col("center"), col("j").cast("long").as("j"), col("neg"))
        .orderBy("center", "j"),
      Some("""WITH words AS (SELECT w, count(*) AS n FROM
                (SELECT unnest(list_filter(string_split(text, ' '),
                   x -> x <> '')) AS w FROM documents) GROUP BY w),
              ranked AS (SELECT w, row_number() OVER (ORDER BY n DESC, w) AS rank
                         FROM words),
              v AS (SELECT count(*) AS vs FROM words),
              cj AS (SELECT r.w AS center, unnest(range(3)) AS j FROM ranked r),
              pick AS (SELECT center, j,
                         ('0x' || substr(md5(center || ':' ||
                           CAST(j AS VARCHAR)), 1, 12))::BIGINT % vs + 1 AS rk
                       FROM cj, v)
              SELECT p.center, p.j, r.w AS neg
              FROM pick p JOIN ranked r ON r.rank = p.rk
              ORDER BY p.center, p.j""")),

    // stride-overlapped context chunking (text/Chunking.chunk): 8-token
    // windows every 4 tokens, ragged tail kept — the retrieval/eval
    // splitter (seqPack's within-doc complement). Pure array-HOF
    // projection + one posexplode; zero shuffle before the final sort.
    // The oracle replays the start lattice with list slicing.
    "q_chunk" -> Q(
      (s, d) => graft.text.Chunking
        .chunk(t(s, d, "documents").select(col("doc_id"), col("text")),
          col("text"), size = 8, stride = 4)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk_text"), col("n_tokens").cast("long").as("n_tokens"))
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH toks AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS l
                FROM documents),
              st AS (SELECT doc_id, l, unnest(range(0, len(l), 4)) AS s
                     FROM toks WHERE len(l) > 0)
              SELECT doc_id, s // 4 AS chunk_idx,
                array_to_string(l[s+1 : least(s+8, len(l))], ' ') AS chunk_text,
                least(s+8, len(l)) - s AS n_tokens
              FROM st ORDER BY doc_id, chunk_idx""")),

    // co-citation projection (WebGraph.coCitation): target pairs cited
    // by the same source docs, weight = distinct citing sources; sources
    // with fanout > 4 (directory pages) are dropped by the documented
    // cap — the oracle applies the identical rule. Fanout varies 1..6
    // per doc so the cap path is exercised.
    "q_cocitation" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val links = docs.select(col("doc_id").as("src"),
            explode(sequence(lit(0L), col("doc_id") % 6)).as("j"))
          .select(col("src"), ((col("src") * 7 + col("j") * 13 + 2) % 50).as("dst"))
        graft.ops.WebGraph.coCitation(links, maxFanout = 4, minWeight = 2L)
          .orderBy("a", "b")
      },
      Some("""WITH l AS (SELECT DISTINCT doc_id AS src,
                  (doc_id*7 + j*13 + 2) % 50 AS dst
                FROM (SELECT doc_id, unnest(range(0, doc_id % 6 + 1)) AS j
                      FROM documents)),
              fan AS (SELECT src, count(*) AS f FROM l GROUP BY src),
              ok AS (SELECT l.src, l.dst FROM l
                     JOIN fan ON fan.src = l.src AND fan.f <= 4)
              SELECT x.dst AS a, y.dst AS b, count(*) AS w
              FROM ok x JOIN ok y ON x.src = y.src AND x.dst < y.dst
              GROUP BY x.dst, y.dst
              HAVING count(*) >= 2
              ORDER BY a, b""")),

    // STRONGLY connected components (WebGraph.scc, Orzan-style
    // trim+color+settle with pointer-jumped label propagation) over a
    // synthetic DIRECTED link graph: 50-vertex ring+chord blocks (each
    // block one SCC) plus one-way cross links out of block 0 (a DAG
    // between blocks, so blocks stay maximal). The oracle computes SCCs
    // from scratch: recursive-CTE transitive closure → mutual-reachability
    // pairs → min-id label per vertex.
    "q_scc" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val n = docs.count()
        val block = expr("doc_id div 50") * lit(50L)
        val ring = docs.select(col("doc_id").as("src"),
          (block + (col("doc_id") % 50 + 1) % 50).as("dst"))
        val chord = docs.select(col("doc_id").as("src"),
          (block + (col("doc_id") % 50 + 7) % 50).as("dst"))
        val cross = docs.filter(col("doc_id") < 50)
          .select(col("doc_id").as("src"), (col("doc_id") * 131 % lit(n)).as("dst"))
        graft.ops.WebGraph.scc(ring.unionByName(chord).unionByName(cross))
          .orderBy("v")
      },
      Some("""WITH RECURSIVE
              nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
              eraw AS (
                SELECT doc_id AS src,
                  (doc_id // 50)*50 + ((doc_id % 50)+1) % 50 AS dst FROM documents
                UNION
                SELECT doc_id, (doc_id // 50)*50 + ((doc_id % 50)+7) % 50 FROM documents
                UNION
                SELECT doc_id, (doc_id*131) % n FROM documents, nn WHERE doc_id < 50),
              e AS (SELECT src, dst FROM eraw WHERE src <> dst),
              r(a, b) AS (
                SELECT src, dst FROM e
                UNION
                SELECT r.a, e.dst FROM r JOIN e ON e.src = r.b),
              verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
              mut AS (SELECT r1.b AS v, r1.a AS u FROM r r1
                      JOIN r r2 ON r1.a = r2.b AND r1.b = r2.a)
              SELECT v.v AS v, least(v.v, coalesce(min(m.u), v.v)) AS scc_id
              FROM verts v LEFT JOIN mut m ON m.v = v.v
              GROUP BY v.v ORDER BY v""")),

    // HyperLogLog registers (ops/Stats.hllRegisters): the mergeable
    // count-distinct sketch state per lang, 64 buckets — one groupBy
    // whose map-side combine bounds the wire by sketch size. Registers
    // are INTEGER-exact cross-engine (rank = base-2 string length, no
    // fp log), so the oracle gate is a hash match; estimation accuracy
    // is HllSpec's job.
    "q_hll_registers" -> Q(
      (s, d) => {
        val keyed = t(s, d, "documents").select(col("lang"),
          concat(lit("k"), (col("doc_id") % 200).cast("string")).as("k"))
        graft.ops.Stats.hllRegisters(keyed, "lang", "k", bucketBits = 6)
          .orderBy("lang", "bucket")
      },
      Some("""WITH r AS (SELECT lang,
                ('0x' || substr(md5('k' || CAST(doc_id % 200 AS VARCHAR)), 1, 12))::BIGINT AS h
              FROM documents)
            SELECT lang, h % 64 AS bucket,
              max(CASE WHEN h // 64 = 0 THEN 43
                       ELSE 43 - length(bin(h // 64)) END) AS r
            FROM r GROUP BY lang, h % 64 ORDER BY lang, bucket""")),

    // Count-Min sketch (text/CountMin.scala): token frequencies in a
    // 3×64 sketch — deliberately narrow so collision overestimates are
    // exercised — probed for every distinct token with the exact count
    // riding along (est >= truth is the CM guarantee; the md5 cell
    // addressing makes DuckDB rebuild the identical sketch, so even the
    // overestimates hash-match).
    "q_cmsketch" -> Q(
      (s, d) => {
        import graft.text.CountMin
        val toks = t(s, d, "documents").select(
          explode(filter(split(col("text"), " "), x => length(x) > lit(0))).as("w"))
        val sk = CountMin.build(toks, "w", depth = 3, width = 64L)
        val truth = toks.groupBy("w").agg(count(lit(1)).as("truth"))
        CountMin.estimate(sk, truth, "w", depth = 3, width = 64L)
          .select(col("w"), col("est"), col("truth"))
          .orderBy("w")
      },
      Some {
        import graft.text.CountMin
        def c(r: Int) = CountMin.cellSql("w", r, 64L)
        s"""WITH toks AS (SELECT unnest(list_filter(string_split(text, ' '),
                x -> x <> '')) AS w FROM documents),
            truth AS (SELECT w, count(*) AS truth FROM toks GROUP BY w),
            sk AS (SELECT r, c, count(*) AS cnt FROM (
                SELECT 0 AS r, ${c(0)} AS c FROM toks
                UNION ALL SELECT 1, ${c(1)} FROM toks
                UNION ALL SELECT 2, ${c(2)} FROM toks) u GROUP BY r, c),
            p AS (SELECT w, truth, 0 AS r, ${c(0)} AS c FROM truth
                UNION ALL SELECT w, truth, 1, ${c(1)} FROM truth
                UNION ALL SELECT w, truth, 2, ${c(2)} FROM truth)
            SELECT p.w, CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est, truth
            FROM p LEFT JOIN sk ON p.r = sk.r AND p.c = sk.c
            GROUP BY p.w, truth ORDER BY p.w"""
      }),

    // C4/CCNet line-level cleanup: chunk the corpus's whitespace text
    // into deterministic 5-token lines (the newline structure the
    // synthetic corpus lacks), drop boilerplate-marked lines, rejoin.
    // Array HOFs inside one projection — no explode, no shuffle: the
    // per-page line filter stays scan-shaped at any corpus size.
    "q_line_clean" -> Q(
      (s, d) => {
        val ls = TextFns.fixedLines(col("text"), 5)
        val kept = filter(ls,
          l => !concat(lit(" "), l, lit(" ")).contains(" dup "))
        t(s, d, "documents")
          .select(col("doc_id"),
            size(ls).cast("long").as("n_lines"),
            size(kept).cast("long").as("n_kept"),
            array_join(kept, "\n").as("text_clean"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
              l AS (SELECT doc_id, list_transform(range(0, len(w)//5),
                      i -> array_to_string(list_slice(w, i*5+1, i*5+5), ' ')) AS ls FROM t),
              k AS (SELECT doc_id, ls,
                      list_filter(ls, x -> NOT contains(' ' || x || ' ', ' dup ')) AS kept FROM l)
              SELECT doc_id, len(ls) AS n_lines, len(kept) AS n_kept,
                array_to_string(kept, chr(10)) AS text_clean
              FROM k ORDER BY doc_id""")),

    // deterministic global training-data shuffle (the data-ordering op a
    // training pipeline runs LAST): salted-hash shard + within-shard
    // hash-order position. Hash-partition + per-shard local sort — the
    // shard-file write path, never a global sort (Sampling.shardShuffle).
    "q_shard_shuffle" -> Q(
      (s, d) => graft.text.Sampling.shardShuffle(t(s, d, "documents"), "doc_id", 8)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 12))::BIGINT AS h
              FROM documents)
              SELECT doc_id, h % 8 AS shard,
                CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos
              FROM t ORDER BY doc_id""")),

    // contiguous global example ids in deterministic (bucket, id) order
    // WITHOUT a global sort: bounded 100-row bucket offsets + independent
    // per-bucket ranking windows (Sampling.globalIndex). The oracle is
    // the single global window this op exists to avoid.
    "q_global_index" -> Q(
      (s, d) => graft.text.Sampling.globalIndex(t(s, d, "documents"), "doc_id")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100 AS bucket
              FROM documents)
              SELECT doc_id,
                CAST(row_number() OVER (ORDER BY bucket, doc_id) - 1 AS BIGINT) AS idx
              FROM t ORDER BY doc_id""")),

    // deterministic stratified sampling: the k=20 smallest-salted-hash
    // docs per language — a reproducible fixed-size eval subset. Two-
    // phase (bounded per-stratum counts -> conservative hash threshold
    // scan filter -> exact rank over the ~4k-row sliver, loud-failure
    // validated) so no window ever ranks a whole stratum; the oracle is
    // the whole-stratum window the op avoids.
    "q_stratified_sample" -> Q(
      (s, d) => graft.text.Sampling.stratifiedSample(
          t(s, d, "documents"), "doc_id", "lang", 20)
        .orderBy("lang", "pos"),
      Some("""WITH t AS (SELECT doc_id, lang,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 12))::BIGINT AS h
              FROM documents),
              r AS (SELECT doc_id, lang,
                      CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS pos
                    FROM t)
              SELECT doc_id, lang, pos FROM r WHERE pos <= 20
              ORDER BY lang, pos""")),

    // fuzzy street-name matching: token-sorted levenshtein argmin
    // (hgwnames.match/dsmatch, hgwnames.py:49-96)
    "q_fuzzy_match" -> Q(
      (s, d) => {
        def key(c: org.apache.spark.sql.Column) =
          concat_ws(" ", array_sort(split(lower(c), " ")))
        val cust = t(s, d, "customer").select("c_name")
        val supp = t(s, d, "supplier").select("s_name")
        // argmin via min(struct(d, name)): partial-aggregates map-side, no
        // per-group sort — the grouped-match rewrite the reference measured
        // at 127x (test/benchmark.py.old:166-174), Spark-shaped
        cust.crossJoin(broadcast(supp))
          .withColumn("d", levenshtein(key(col("c_name")), key(col("s_name"))).cast("long"))
          .groupBy("c_name")
          .agg(min(struct(col("d"), col("s_name"))).as("m"))
          .select(col("c_name"), col("m.s_name").as("best"), col("m.d").as("d"))
          .orderBy("c_name")
      },
      Some("""SELECT c_name, s_name AS best, d FROM (
                SELECT c_name, s_name,
                  levenshtein(array_to_string(list_sort(string_split(lower(c_name),' ')),' '),
                              array_to_string(list_sort(string_split(lower(s_name),' ')),' ')) AS d,
                  row_number() OVER (PARTITION BY c_name ORDER BY
                    levenshtein(array_to_string(list_sort(string_split(lower(c_name),' ')),' '),
                                array_to_string(list_sort(string_split(lower(s_name),' ')),' ')),
                    s_name) AS rn
                FROM customer CROSS JOIN supplier)
              WHERE rn = 1 ORDER BY c_name""")),

    // multimodal plumbing: binary payload + typed metadata through the
    // batched per-partition decode (codec STUBBED — container has no libs;
    // the oracle gates the metadata pass-through and batch shape)
    "q_media_meta" -> Q(
      (s, d) => graft.multimodal.Media.decodeFeatures(
        graft.multimodal.Media.synth(s, d))
        .select("doc_id", "kind", "n_bytes")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
              CASE WHEN doc_id % 3 = 0 THEN 'image' ELSE 'audio' END AS kind,
              128 + n_chars % 256 AS n_bytes
              FROM documents ORDER BY doc_id""")),

    // media FEATURE-EXTRACT, oracle-gated end-to-end: the md5-chained
    // payload makes the decode stub's byte histogram a closed form DuckDB
    // derives from its own md5 (hex-pair bytes, top-3-bit bins, exact
    // integer counts) — the batched mapPartitions plumbing is the
    // production path, only the payload generator is the parity variant.
    "q_media_features" -> Q(
      (s, d) => graft.multimodal.Media
        .decodeHistogram(graft.multimodal.Media.synthMd5(s, d))
        .select(col("doc_id"), posexplode(col("hist")).as(Seq("bin", "cnt")))
        .orderBy("doc_id", "bin"),
      Some("""WITH m AS (SELECT doc_id, 128 + n_chars % 256 AS len FROM documents),
              blocks AS (SELECT doc_id, len, unnest(range((len + 15) // 16)) AS j FROM m),
              hx AS (SELECT doc_id, len, j,
                     md5(doc_id::VARCHAR || ':' || j::VARCHAR) AS h FROM blocks),
              bytes AS (SELECT doc_id, ('0x' || substr(h, k*2 + 1, 2))::INT AS b
                        FROM hx CROSS JOIN (SELECT unnest(range(16)) AS k)
                        WHERE j*16 + k < len),
              bins AS (SELECT unnest(range(8)) AS bin),
              agg AS (SELECT doc_id, b // 32 AS bin, count(*) AS cnt
                      FROM bytes GROUP BY 1, 2)
              SELECT m.doc_id AS doc_id, bins.bin AS bin,
                     coalesce(agg.cnt, 0) AS cnt
              FROM m CROSS JOIN bins
              LEFT JOIN agg ON agg.doc_id = m.doc_id AND agg.bin = bins.bin
              ORDER BY m.doc_id, bins.bin""")),

    // media resize: EXACT aspect-preserving fit metadata (pixel transform
    // is the stubbed codec step)
    "q_media_resize" -> Q(
      (s, d) => graft.multimodal.Media
        .resizeMeta(graft.multimodal.Media.synth(s, d), maxSide = 32)
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
              CASE WHEN doc_id % 3 = 0 THEN 'image' ELSE 'audio' END AS kind,
              CAST(doc_id % 64 + 1 AS INT) AS width,
              CAST(doc_id % 48 + 1 AS INT) AS height,
              CAST(CASE WHEN greatest(doc_id%64+1, doc_id%48+1) <= 32
                THEN doc_id%64+1
                ELSE greatest(1, (doc_id%64+1)*32 // greatest(doc_id%64+1, doc_id%48+1)) END AS INT) AS out_w,
              CAST(CASE WHEN greatest(doc_id%64+1, doc_id%48+1) <= 32
                THEN doc_id%48+1
                ELSE greatest(1, (doc_id%48+1)*32 // greatest(doc_id%64+1, doc_id%48+1)) END AS INT) AS out_h
              FROM documents ORDER BY doc_id""")),

    // video frame sampling: one row per sampled timestamp (plumbing real,
    // frame decode stubbed)
    "q_frame_sample" -> Q(
      (s, d) => graft.multimodal.Media
        .sampleFrames(graft.multimodal.Media.synthVideo(s, d), everyMs = 700L)
        .orderBy("doc_id", "frame_idx"),
      Some("""WITH v AS (SELECT doc_id, 1000 + n_chars % 60 * 1000 AS dur FROM documents)
              SELECT doc_id, unnest(range(0, (dur + 699) // 700)) AS frame_idx,
                unnest(range(0, (dur + 699) // 700)) * 700 AS t_ms
              FROM v ORDER BY doc_id, frame_idx""")),

    // OSM output model: deterministic negative-id assignment over total key
    // order (osm.py id discipline re-expressed as two-phase global rank)
    "q_osm_ids" -> Q(
      (s, d) => graft.sources.OsmOut.addressNodes(
        graft.layers.SynthCadastre.addresses(s, d),
        "bid", "px", "py", Map("addr:housenumber" -> "bid"))
        .select("key", "osm_id")
        .orderBy("key"),
      Some("""WITH u AS (SELECT event_id AS id FROM events
              WHERE event_id < (SELECT count(*)//100 FROM events)*5),
              b AS (SELECT id AS bid FROM u WHERE id%5 < (id//5)%4 + 2)
              SELECT bid AS key,
                -(row_number() OVER (ORDER BY bid)) AS osm_id
              FROM b ORDER BY key""")),

    // ================= text / training-data pipeline ====================
    "q_token_count" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TextFns.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
              FROM documents ORDER BY doc_id""")),

    // BPE-ish pre-token count (GPT-2-style alternation; both engines run
    // the same leftmost-first regex)
    "q_bpe_tokens" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TextFns.bpeTokenCount(col("text")).as("n_bpe"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, len(regexp_extract_all(text,
                '${TextFns.BpePattern.replace("'", "''")}')) AS n_bpe
              FROM documents ORDER BY doc_id""")),

    "q_word_freq" -> Q(
      (s, d) => t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy("w"),
      Some("""SELECT w, count(*) AS n FROM (
                SELECT unnest(string_split(text, ' ')) AS w FROM documents)
              GROUP BY w ORDER BY w""")),

    // token-entropy + type-token-ratio diversity scoring: the engine
    // computes the histogram INSIDE each row (array_sort + run-length
    // HOFs — zero shuffle, vs the oracle's corpus-token-sized unnest+
    // groupBy); identical per-run arithmetic (one division, one ln,
    // round to micro-nat longs) makes the two formulations hash-equal
    "q_entropy" -> Q(
      (s, d) => {
        val toks = filter(split(col("text"), " "), x => length(x) > lit(0))
        t(s, d, "documents")
          .select(col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            graft.text.TextFns.tokenEntropyUnats(toks).as("entropy_unats"),
            graft.text.TextFns.typeTokenRatio(toks).as("ttr"))
          .filter(col("n_tokens") > 0)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
                         FROM documents),
              c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
              n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens FROM c GROUP BY 1)
              SELECT c.doc_id, max(n.n_tokens) AS n_tokens,
                CAST(sum(c.c * CAST(round(-ln(c.c*1.0/n.n_tokens)*1e6) AS BIGINT)) AS BIGINT) AS entropy_unats,
                round(count(*) * 1.0 / max(n.n_tokens), 6) AS ttr
              FROM c JOIN n USING (doc_id)
              GROUP BY c.doc_id ORDER BY doc_id""")),

    // quality scoring: length + stopword counts (deterministic ratios)
    "q_quality" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TextFns.charLen(col("text")).as("n_chars_m"),
          TextFns.wordOccurrences(col("text"), "the").as("n_the"),
          TextFns.wordOccurrences(col("text"), "a").as("n_a"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, length(text) AS n_chars_m,
              (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ' ')))//4 AS n_the,
              (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ' ')))//2 AS n_a
              FROM documents ORDER BY doc_id""")),

    // duplicate-n-gram repetition filter (the Gopher/C4-family quality
    // rule: a page whose 2-grams repeat heavily is boilerplate/spam).
    // Pure array column math — shingle, count, distinct-count — no
    // explode, no shuffle beyond the final sort: a 10^12-row scan-shaped
    // filter. The oracle rebuilds the identical 2-gram stream in SQL.
    "q_repetition" -> Q(
      (s, d) => {
        val toks = split(col("text"), " ")
        t(s, d, "documents")
          .select(col("doc_id"), Dedup.shingles(toks, 2).as("gs"))
          .select(col("doc_id"), size(col("gs")).as("n"),
            size(array_distinct(col("gs"))).as("nd"))
          .select(col("doc_id"), col("n").as("n_bigrams"),
            round(lit(1.0) - col("nd") / col("n"), 6).as("dup_ratio"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              x AS (SELECT doc_id, w, unnest(range(1, greatest(len(w), 2))) AS i FROM t),
              g AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS sh FROM x)
              SELECT doc_id, count(*) AS n_bigrams,
                round(1.0 - count(DISTINCT sh)*1.0/count(*), 6) AS dup_ratio
              FROM g GROUP BY doc_id ORDER BY doc_id""")),

    // corpus-trained bigram-LM cross-entropy scoring (the CCNet quality
    // gate): train add-one-smoothed bigram counts on the lang='en' slice,
    // score EVERY doc by total cost in integer micro-nats (order-
    // independent BIGINT sums — see LangModel's determinism contract),
    // bucket head/middle/tail at ~tercile thresholds. LM lookup is a
    // shuffle equi-join on (w1,w2) — the LM table is never broadcast.
    "q_lm_ppl" -> Q(
      (s, d) => graft.text.LangModel.perplexityBuckets(
          tSp(s, d, "documents"), "doc_id", "text", col("lang") === "en",
          headMaxUnats = 3375000L, middleMaxUnats = 3425000L)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS w FROM documents),
              x AS (SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2
                    FROM (SELECT doc_id, lang, w, unnest(range(1, greatest(len(w),2))) AS i FROM t)),
              c1 AS (SELECT w1, count(*) AS c1 FROM x WHERE lang='en' GROUP BY 1),
              c2 AS (SELECT w1, w2, count(*) AS c2 FROM x WHERE lang='en' GROUP BY 1,2),
              v AS (SELECT count(DISTINCT w1) AS v FROM x WHERE lang='en'),
              s AS (SELECT m.doc_id, CAST(sum(m.m) AS BIGINT) AS n_bigrams,
                      CAST(sum(m.m * CAST(round(-ln((coalesce(c2.c2,0)+1.0)/(coalesce(c1.c1,0)+v.v))*1e6) AS BIGINT)) AS BIGINT) AS cost_unats
                    FROM (SELECT doc_id, w1, w2, count(*) AS m FROM x GROUP BY 1,2,3) m
                    CROSS JOIN v
                    LEFT JOIN c1 ON m.w1 = c1.w1
                    LEFT JOIN c2 ON m.w1 = c2.w1 AND m.w2 = c2.w2
                    GROUP BY m.doc_id)
              SELECT doc_id, n_bigrams, cost_unats,
                CASE WHEN cost_unats <= n_bigrams * 3375000 THEN 'head'
                     WHEN cost_unats <= n_bigrams * 3425000 THEN 'middle'
                     ELSE 'tail' END AS bucket
              FROM s ORDER BY doc_id""")),

    "q_lang_profile" -> Q(
      (s, d) => t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("total_chars"))
        .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
              FROM documents GROUP BY lang ORDER BY lang""")),

    // exact per-language length percentiles WITHOUT a global sort: value
    // histogram (one map-side-combined exchange, domain-sized output) +
    // cumulative window over the histogram only; quantile = smallest v
    // with 1000*cum >= p*n (discrete type-1, multiply-only integer
    // predicate — no fp interpolation to diverge on)
    "q_quantiles" -> Q(
      (s, d) => graft.ops.Stats.exactQuantiles(
          t(s, d, "documents"), "lang", "n_chars", Seq(500, 900, 990))
        .orderBy("lang"),
      Some("""WITH h AS (SELECT lang, n_chars AS v, count(*) AS c FROM documents GROUP BY 1,2),
              cum AS (SELECT lang, v, c,
                        sum(c) OVER (PARTITION BY lang ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
                        sum(c) OVER (PARTITION BY lang) AS n
                      FROM h)
              SELECT lang, CAST(max(n) AS BIGINT) AS n,
                min(CASE WHEN cum*1000 >= 500*n THEN v END) AS q500,
                min(CASE WHEN cum*1000 >= 900*n THEN v END) AS q900,
                min(CASE WHEN cum*1000 >= 990*n THEN v END) AS q990
              FROM cum GROUP BY lang ORDER BY lang""")),

    // hyperlink extraction from raw html bytes + host-graph rollup
    // (the reference's xlink regex-resolution generalized to the web
    // corpus, address.py:42-46 / base.py:88-155): Spark recovers the
    // edges with real regexp_extract_all over the binary column; the
    // oracle regenerates them from the arithmetic synthesis rule —
    // agreement proves the extraction path, not just the aggregate
    "q_link_graph" -> Q(
      (s, d) => {
        val n = t(s, d, "documents").count()
        graft.ops.WebGraph
          .hostGraph(graft.sources.Pages.fromDocumentsLinked(s, d, n))
          .orderBy("src_host", "dst_host")
      },
      Some("""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
              s AS (SELECT doc_id, unnest(range(doc_id % 4 + 1)) AS j
                    FROM documents),
              e AS (SELECT doc_id AS src,
                      (doc_id*131 + 7*j) % (SELECT n FROM nn) AS dst FROM s)
              SELECT 'h' || CAST(src % 16 AS VARCHAR) || '.example' AS src_host,
                     'h' || CAST(dst % 16 AS VARCHAR) || '.example' AS dst_host,
                     count(*) AS n_links,
                     count(DISTINCT dst) AS n_dst_docs
              FROM e GROUP BY 1, 2 ORDER BY 1, 2""")),

    // log2-binned in/out-degree distribution of the extracted link graph
    // (WebGraph.degreeDistribution Scaladoc carries the integer-bit-length
    // binning + sketch-sized-rollup shape); oracle regenerates the edges
    // from the synthesis rule, so agreement gates the extraction path too
    "q_degree_dist" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val n = docs.count()
        val pages = graft.sources.Pages.fromDocumentsLinked(s, d, n)
        val edges = graft.ops.WebGraph.linkEdges(pages)
          .select(col("src_id").as("src"), col("dst_id").as("dst"))
        graft.ops.WebGraph.degreeDistribution(
            edges, docs.select(col("doc_id").as("id")))
          .orderBy("side", "bin")
      },
      Some("""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
              s AS (SELECT doc_id, unnest(range(doc_id % 4 + 1)) AS j
                    FROM documents),
              e AS (SELECT doc_id AS src,
                      (doc_id*131 + 7*j) % (SELECT n FROM nn) AS dst FROM s),
              ind AS (SELECT d.doc_id, count(e.src) AS deg
                      FROM documents d LEFT JOIN e ON e.dst = d.doc_id
                      GROUP BY 1),
              outd AS (SELECT d.doc_id, count(e2.dst) AS deg
                       FROM documents d LEFT JOIN e e2 ON e2.src = d.doc_id
                       GROUP BY 1),
              u AS (SELECT 'in' AS side, deg FROM ind
                    UNION ALL SELECT 'out' AS side, deg FROM outd)
              SELECT side, CAST(length(bin(deg + 1)) - 1 AS BIGINT) AS bin,
                     count(*) AS n_docs, min(deg) AS min_deg,
                     max(deg) AS max_deg
              FROM u GROUP BY 1, 2 ORDER BY side, bin""")),

    // exact per-vertex triangle counts (WebGraph.triangleCounts): the
    // degree-ordered orientation bounds every wedge fan-out by out-degree
    // ≤ O(√m) — the classic Chiba–Nishizeki discipline that makes a
    // celebrity hub a wedge SINK instead of a Σdeg² bomb. Edges = the
    // ×131 power rule (no triangles by itself) + a ±1/±2 ring that plants
    // one triangle per vertex; the oracle enumerates ordered triples
    // a<b<c by the brute double-join.
    "q_triangles" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val n = docs.count()
        val pow = docs
          .select(col("doc_id"),
            explode(sequence(lit(0), (col("doc_id") % 4).cast("int"))).as("j"))
          .select(col("doc_id").as("src"),
            ((col("doc_id") * 131 + col("j") * 7) % n).as("dst"))
        val ring = docs.select(col("doc_id").as("src"),
            ((col("doc_id") + 1) % n).as("dst"))
          .unionByName(docs.select(col("doc_id").as("src"),
            ((col("doc_id") + 2) % n).as("dst")))
        graft.ops.WebGraph.triangleCounts(pow.unionByName(ring))
          .orderBy("vertex")
      },
      Some("""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
              s AS (SELECT doc_id, unnest(range(doc_id % 4 + 1)) AS j
                    FROM documents),
              raw AS (
                SELECT doc_id AS src,
                       (doc_id*131 + 7*j) % (SELECT n FROM nn) AS dst FROM s
                UNION ALL SELECT doc_id, (doc_id + 1) % (SELECT n FROM nn)
                          FROM documents
                UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn)
                          FROM documents),
              e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                    FROM raw WHERE src <> dst),
              tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                      FROM e e1 JOIN e e2 ON e2.a = e1.b
                      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
              v AS (SELECT x AS vertex FROM tri
                    UNION ALL SELECT y FROM tri
                    UNION ALL SELECT z FROM tri)
              SELECT vertex, count(*) AS n_triangles FROM v
              GROUP BY 1 ORDER BY 1""")),

    // k-core decomposition (WebGraph.kCore): peel deg<7 vertices to the
    // fixpoint over the same mixed edge rule (converges in 2 peels here;
    // the oracle unrolls 4 for margin — extra peels of a stable core are
    // identities). Spark side peels to TRUE fixpoint with a loud
    // non-convergence guard.
    "q_kcore" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val n = docs.count()
        val pow = docs
          .select(col("doc_id"),
            explode(sequence(lit(0), (col("doc_id") % 4).cast("int"))).as("j"))
          .select(col("doc_id").as("src"),
            ((col("doc_id") * 131 + col("j") * 7) % n).as("dst"))
        val ring = docs.select(col("doc_id").as("src"),
            ((col("doc_id") + 1) % n).as("dst"))
          .unionByName(docs.select(col("doc_id").as("src"),
            ((col("doc_id") + 2) % n).as("dst")))
        graft.ops.WebGraph.kCore(pow.unionByName(ring), k = 7)
          .orderBy("vertex")
      },
      Some {
        // MATERIALIZED is load-bearing: DuckDB inlines CTEs by default,
        // and 4 peel levels each referencing the previous one 3× would
        // re-expand e0 exponentially (observed: minutes vs 0.5 s)
        val peel = (1 to 4).map { i =>
          s"""d$i AS MATERIALIZED (SELECT v, count(*) AS deg FROM
                (SELECT a AS v FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
                GROUP BY v),
              k$i AS MATERIALIZED (SELECT v FROM d$i WHERE deg >= 7),
              e$i AS MATERIALIZED (SELECT e${i - 1}.a, e${i - 1}.b FROM e${i - 1}
                JOIN k$i x ON x.v = e${i - 1}.a
                JOIN k$i y ON y.v = e${i - 1}.b)"""
        }.mkString(",\n")
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
            s AS (SELECT doc_id, unnest(range(doc_id % 4 + 1)) AS j
                  FROM documents),
            raw AS (
              SELECT doc_id AS src,
                     (doc_id*131 + 7*j) % (SELECT n FROM nn) AS dst FROM s
              UNION ALL SELECT doc_id, (doc_id + 1) % (SELECT n FROM nn)
                        FROM documents
              UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn)
                        FROM documents),
            e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
                   greatest(src, dst) AS b
                   FROM raw WHERE src <> dst),
            $peel
            SELECT v AS vertex, count(*) AS deg FROM
              (SELECT a AS v FROM e4 UNION ALL SELECT b FROM e4)
            GROUP BY v ORDER BY vertex"""
      }),

    // multi-source BFS crawl depth (WebGraph.bfsDepth): frontier rounds
    // over the directed link rule from seeds doc_id % 100 == 0 (max depth
    // 5 here). Oracle = depth-capped recursive closure with UNION (NOT
    // UNION ALL — the distinct is what keeps cyclic path enumeration from
    // exploding) + min per vertex.
    "q_crawl_depth" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val n = docs.count()
        val pow = docs
          .select(col("doc_id"),
            explode(sequence(lit(0), (col("doc_id") % 4).cast("int"))).as("j"))
          .select(col("doc_id").as("src"),
            ((col("doc_id") * 131 + col("j") * 7) % n).as("dst"))
        val ring = docs.select(col("doc_id").as("src"),
            ((col("doc_id") + 1) % n).as("dst"))
          .unionByName(docs.select(col("doc_id").as("src"),
            ((col("doc_id") + 2) % n).as("dst")))
        val seeds = docs.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("v"))
        graft.ops.WebGraph.bfsDepth(pow.unionByName(ring), seeds)
          .orderBy("v")
      },
      Some("""WITH RECURSIVE nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
              s AS (SELECT doc_id, unnest(range(doc_id % 4 + 1)) AS j
                    FROM documents),
              e AS (
                SELECT doc_id AS src,
                       (doc_id*131 + 7*j) % (SELECT n FROM nn) AS dst FROM s
                UNION ALL SELECT doc_id, (doc_id + 1) % (SELECT n FROM nn)
                          FROM documents
                UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn)
                          FROM documents),
              r(v, d) AS (
                SELECT doc_id, CAST(0 AS BIGINT) FROM documents
                WHERE doc_id % 100 = 0
                UNION
                SELECT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.v
                WHERE r.d < 12)
              SELECT v, min(d) AS depth FROM r GROUP BY v ORDER BY v""")),

    // local clustering coefficient: triangleCounts ⨝ simple-support
    // degree, coef = 2T / (d(d−1)) on the shared 6dp grid — the
    // per-vertex community-density score (composition of two gated
    // primitives; zero-triangle vertices report 0.0 via the left join).
    "q_clustering" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val n = docs.count()
        val pow = docs
          .select(col("doc_id"),
            explode(sequence(lit(0), (col("doc_id") % 4).cast("int"))).as("j"))
          .select(col("doc_id").as("src"),
            ((col("doc_id") * 131 + col("j") * 7) % n).as("dst"))
        val ring = docs.select(col("doc_id").as("src"),
            ((col("doc_id") + 1) % n).as("dst"))
          .unionByName(docs.select(col("doc_id").as("src"),
            ((col("doc_id") + 2) % n).as("dst")))
        val edges = pow.unionByName(ring)
        // the support + degree tables feed BOTH the coefficient and the
        // triangle counter — built once, persisted (CacheBin drains after
        // the action), instead of letting triangleCounts rebuild them
        val und = graft.CacheBin.persist(graft.ops.WebGraph.simpleSupport(edges))
        val degV = graft.CacheBin.persist(graft.ops.WebGraph.supportDegrees(und))
        val deg = degV.select(col("v").as("vertex"), col("deg"))
        deg.join(graft.ops.WebGraph.triangleCountsOnSupport(und, degV),
            Seq("vertex"), "left")
          .select(col("vertex"), col("deg"),
            coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
            when(col("deg") >= 2,
              round(coalesce(col("n_triangles"), lit(0L)) * 2.0 /
                (col("deg") * (col("deg") - 1)), 6))
              .otherwise(lit(0.0)).as("coef"))
          .orderBy("vertex")
      },
      Some("""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
              s AS (SELECT doc_id, unnest(range(doc_id % 4 + 1)) AS j
                    FROM documents),
              raw AS (
                SELECT doc_id AS src,
                       (doc_id*131 + 7*j) % (SELECT n FROM nn) AS dst FROM s
                UNION ALL SELECT doc_id, (doc_id + 1) % (SELECT n FROM nn)
                          FROM documents
                UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn)
                          FROM documents),
              e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                    FROM raw WHERE src <> dst),
              dg AS (SELECT v AS vertex, count(*) AS deg FROM
                       (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
                     GROUP BY v),
              tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                      FROM e e1 JOIN e e2 ON e2.a = e1.b
                      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
              tv AS (SELECT v AS vertex, count(*) AS n_triangles FROM
                       (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
                        UNION ALL SELECT z FROM tri)
                     GROUP BY v)
              SELECT dg.vertex, dg.deg,
                coalesce(tv.n_triangles, 0) AS n_triangles,
                CASE WHEN dg.deg >= 2 THEN
                  round(coalesce(tv.n_triangles, 0) * 2.0 /
                    (dg.deg * (dg.deg - 1)), 6)
                ELSE 0.0 END AS coef
              FROM dg LEFT JOIN tv ON tv.vertex = dg.vertex
              ORDER BY dg.vertex""")),

    // weighted sampling (Sampling.weightedSample, sequential Poisson):
    // k smallest h/w priorities per language — inclusion ∝ weight. The
    // priority is one IEEE division of exact operands, so both engines
    // rank identical bit patterns (pow/ln keys would diverge in the ulp).
    "q_weighted_sample" -> Q(
      (s, d) => graft.text.Sampling.weightedSample(
          t(s, d, "documents"), "doc_id", "lang",
          (col("doc_id") % 9 + 1).cast("double"), 20)
        .orderBy("lang", "pos"),
      Some("""WITH t AS (SELECT doc_id, lang,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wsamp'), 1, 12))::BIGINT AS h,
                CAST(doc_id % 9 + 1 AS DOUBLE) AS w
              FROM documents),
              r AS (SELECT doc_id, lang, w,
                      CAST(row_number() OVER (PARTITION BY lang
                        ORDER BY CAST(h AS DOUBLE) / w, doc_id) AS BIGINT) AS pos
                    FROM t)
              SELECT doc_id, lang, w, pos FROM r WHERE pos <= 20
              ORDER BY lang, pos""")),

    // fixed-iteration PageRank over the extracted doc-level link graph:
    // iterative rank⨝edges join + dst aggregate, degrees cached once
    // (WebGraph.pageRank Scaladoc carries the 100 TB iteration shape).
    // Ranks are reported ×n (≈1.0 scale) and rounded so both engines'
    // different summation orders collapse to the same grid
    "q_pagerank" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val n = docs.count()
        val pages = graft.sources.Pages.fromDocumentsLinked(s, d, n)
        val edges = graft.ops.WebGraph.linkEdges(pages)
          .select(col("src_id").as("src"), col("dst_id").as("dst"))
        graft.ops.WebGraph.pageRank(edges, n, iters = 3)
          .select(col("id").as("doc_id"),
            round(col("rank") * n, 6).as("rank_x_n"))
          .orderBy("doc_id")
      },
      Some("""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
              s AS (SELECT doc_id, unnest(range(doc_id % 4 + 1)) AS j
                    FROM documents),
              e AS (SELECT doc_id AS src,
                      (doc_id*131 + 7*j) % (SELECT n FROM nn) AS dst FROM s),
              deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg
                      FROM e GROUP BY 1),
              r0 AS (SELECT doc_id AS id,
                       CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
                     FROM documents),
              r1 AS (SELECT d.doc_id AS id,
                       CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
                         + CAST(0.85 AS DOUBLE) * coalesce(m.mass, 0) AS rank
                     FROM documents d LEFT JOIN (
                       SELECT e.dst, sum(r0.rank / deg.deg) AS mass
                       FROM e JOIN deg ON deg.src = e.src
                         JOIN r0 ON r0.id = e.src
                       GROUP BY 1) m ON m.dst = d.doc_id),
              r2 AS (SELECT d.doc_id AS id,
                       CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
                         + CAST(0.85 AS DOUBLE) * coalesce(m.mass, 0) AS rank
                     FROM documents d LEFT JOIN (
                       SELECT e.dst, sum(r1.rank / deg.deg) AS mass
                       FROM e JOIN deg ON deg.src = e.src
                         JOIN r1 ON r1.id = e.src
                       GROUP BY 1) m ON m.dst = d.doc_id),
              r3 AS (SELECT d.doc_id AS id,
                       CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
                         + CAST(0.85 AS DOUBLE) * coalesce(m.mass, 0) AS rank
                     FROM documents d LEFT JOIN (
                       SELECT e.dst, sum(r2.rank / deg.deg) AS mass
                       FROM e JOIN deg ON deg.src = e.src
                         JOIN r2 ON r2.id = e.src
                       GROUP BY 1) m ON m.dst = d.doc_id)
              SELECT id AS doc_id,
                     round(rank * (SELECT n FROM nn), 6) AS rank_x_n
              FROM r3 ORDER BY doc_id""")),

    // fixed-iteration TrustRank (WebGraph.trustRank): teleport mass lands
    // only on the seed set (doc_id % 50 == 0), so trust decays with link
    // distance from vetted pages — the seeded anti-spam score. Oracle =
    // the same 3 unrolled iterations with the seed-conditional teleport;
    // the 0.15/|S| and 1/|S| constants are single IEEE divisions both
    // engines reproduce bit-for-bit.
    "q_trustrank" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val n = docs.count()
        val pages = graft.sources.Pages.fromDocumentsLinked(s, d, n)
        val edges = graft.ops.WebGraph.linkEdges(pages)
          .select(col("src_id").as("src"), col("dst_id").as("dst"))
        val seeds = docs.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("v"))
        graft.ops.WebGraph.trustRank(edges, n, seeds, iters = 3)
          .select(col("id").as("doc_id"),
            round(col("rank") * n, 6).as("trust_x_n"))
          .orderBy("doc_id")
      },
      Some {
        def iter(i: Int) =
          s"""r$i AS (SELECT d.doc_id AS id,
               (CASE WHEN d.doc_id % 50 = 0
                  THEN CAST(0.15 AS DOUBLE) / (SELECT ns FROM sn)
                  ELSE CAST(0.0 AS DOUBLE) END)
                 + CAST(0.85 AS DOUBLE) * coalesce(m.mass, 0) AS rank
             FROM documents d LEFT JOIN (
               SELECT e.dst, sum(r${i - 1}.rank / deg.deg) AS mass
               FROM e JOIN deg ON deg.src = e.src
                 JOIN r${i - 1} ON r${i - 1}.id = e.src
               GROUP BY 1) m ON m.dst = d.doc_id)"""
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
            sn AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM documents
                   WHERE doc_id % 50 = 0),
            s AS (SELECT doc_id, unnest(range(doc_id % 4 + 1)) AS j
                  FROM documents),
            e AS (SELECT doc_id AS src,
                    (doc_id*131 + 7*j) % (SELECT n FROM nn) AS dst FROM s),
            deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg
                    FROM e GROUP BY 1),
            r0 AS (SELECT doc_id AS id,
                     CASE WHEN doc_id % 50 = 0
                       THEN CAST(1.0 AS DOUBLE) / (SELECT ns FROM sn)
                       ELSE CAST(0.0 AS DOUBLE) END AS rank
                   FROM documents),
            ${iter(1)},
            ${iter(2)},
            ${iter(3)}
            SELECT id AS doc_id,
                   round(rank * (SELECT n FROM nn), 6) AS trust_x_n
            FROM r3 ORDER BY doc_id"""
      }),

    // anchor-text aggregation per link target (what other pages call this
    // one — the classic web search/quality signal): hrefs and inner texts
    // zipped out of the same html scan, one shuffle on the target id
    "q_anchor_text" -> Q(
      (s, d) => {
        val n = t(s, d, "documents").count()
        graft.ops.WebGraph
          .anchorText(graft.sources.Pages.fromDocumentsLinked(s, d, n))
          .orderBy("dst_id")
      },
      Some("""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
              s AS (SELECT doc_id, unnest(range(doc_id % 4 + 1)) AS j
                    FROM documents),
              e AS (SELECT doc_id AS src, j,
                      (doc_id*131 + 7*j) % (SELECT n FROM nn) AS dst FROM s)
              SELECT dst AS dst_id, count(*) AS n_anchors,
                string_agg('a' || CAST(src AS VARCHAR) || 'x'
                    || CAST(j AS VARCHAR), ' '
                  ORDER BY 'a' || CAST(src AS VARCHAR) || 'x'
                    || CAST(j AS VARCHAR)) AS anchors
              FROM e GROUP BY 1 ORDER BY dst_id""")),

    // STREAMING link-graph windows: readStream over the documents parquet,
    // the same pure-column page synthesis, real href extraction, tumbling
    // 5-minute event-time windows (event time recovered from the url).
    // The oracle replays the window arithmetic closed-form — stream ==
    // batch == SQL, the engine's backfill/live equivalence claim applied
    // to the web-graph family
    "q_link_windows_stream" -> Q(
      (s, d) => {
        val n = t(s, d, "documents").count()
        graft.streaming.EventStream.runHostWindowsOnce(s, d, n)
          .orderBy("bucket", "src_host", "dst_host")
      },
      Some("""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
              s AS (SELECT doc_id, unnest(range(doc_id % 4 + 1)) AS j
                    FROM documents),
              e AS (SELECT doc_id AS src,
                      (doc_id*131 + 7*j) % (SELECT n FROM nn) AS dst FROM s)
              SELECT (src % 1800) // 300 AS bucket,
                     'h' || CAST(src % 16 AS VARCHAR) || '.example' AS src_host,
                     'h' || CAST(dst % 16 AS VARCHAR) || '.example' AS dst_host,
                     count(*) AS n_links
              FROM e GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // fixed-iteration HITS hubs & authorities over the same extracted
    // link graph: unnormalized with an all-ones start, so every score is
    // an exact integer — bit-identical across engines with NO rounding
    // (WebGraph.hits Scaladoc carries the two-layout 100 TB shape)
    "q_hits" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val n = docs.count()
        val pages = graft.sources.Pages.fromDocumentsLinked(s, d, n)
        val edges = graft.ops.WebGraph.linkEdges(pages)
          .select(col("src_id").as("src"), col("dst_id").as("dst"))
        graft.ops.WebGraph.hits(edges, n, iters = 2)
          .select(col("id").as("doc_id"),
            col("auth").cast("long").as("auth"),
            col("hub").cast("long").as("hub"))
          .orderBy("doc_id")
      },
      Some("""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
              s AS (SELECT doc_id, unnest(range(doc_id % 4 + 1)) AS j
                    FROM documents),
              e AS (SELECT doc_id AS src,
                      (doc_id*131 + 7*j) % (SELECT n FROM nn) AS dst FROM s),
              a1 AS (SELECT d.doc_id AS id,
                       coalesce(m.m, 0)::DOUBLE AS auth
                     FROM documents d LEFT JOIN (
                       SELECT dst, CAST(count(*) AS DOUBLE) AS m
                       FROM e GROUP BY 1) m ON m.dst = d.doc_id),
              h1 AS (SELECT d.doc_id AS id,
                       coalesce(m.m, 0)::DOUBLE AS hub
                     FROM documents d LEFT JOIN (
                       SELECT e.src, sum(a1.auth) AS m
                       FROM e JOIN a1 ON a1.id = e.dst GROUP BY 1) m
                       ON m.src = d.doc_id),
              a2 AS (SELECT d.doc_id AS id,
                       coalesce(m.m, 0)::DOUBLE AS auth
                     FROM documents d LEFT JOIN (
                       SELECT e.dst, sum(h1.hub) AS m
                       FROM e JOIN h1 ON h1.id = e.src GROUP BY 1) m
                       ON m.dst = d.doc_id),
              h2 AS (SELECT d.doc_id AS id,
                       coalesce(m.m, 0)::DOUBLE AS hub
                     FROM documents d LEFT JOIN (
                       SELECT e.src, sum(a2.auth) AS m
                       FROM e JOIN a2 ON a2.id = e.dst GROUP BY 1) m
                       ON m.src = d.doc_id)
              SELECT a2.id AS doc_id, CAST(a2.auth AS BIGINT) AS auth,
                     CAST(h2.hub AS BIGINT) AS hub
              FROM a2 JOIN h2 ON h2.id = a2.id ORDER BY doc_id""")),

    // per-document TF-IDF keyword extraction: top-3 terms by tf·ln(n/df)
    // (Relevance.tfIdfTopK Scaladoc carries the skew-aware 100 TB shape)
    "q_tfidf" -> Q(
      (s, d) => graft.text.Relevance
        .tfIdfTopK(t(s, d, "documents"), "doc_id", col("text"), 3)
        .orderBy("doc_id", "rank"),
      Some("""WITH nn AS (SELECT count(*) AS n FROM documents),
              w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                    FROM documents),
              tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
              df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT doc_id, term,
                       tf * ln((SELECT n FROM nn) * 1.0 / df) AS score
                     FROM tf JOIN df USING (term)),
              r AS (SELECT doc_id, term, score,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, term) AS rank
                    FROM sc)
              SELECT doc_id, rank, term, round(score, 6) AS score
              FROM r WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // DSIR-style hashed-feature importance weights for data selection
    // (Xie et al. 2023): target = English docs, features = 64 md5-hashed
    // token buckets, weight = Σ ln p_target(f) − ln p_raw(f). The bucket
    // tables are BOUNDED (64 rows) and broadcast; scoring is scan-shaped
    // (Relevance.importanceWeights Scaladoc carries the full shape)
    "q_importance" -> Q(
      (s, d) => graft.text.Relevance
        .importanceWeights(t(s, d, "documents"), "doc_id", col("text"),
          col("lang") === "en", buckets = 64)
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, lang = 'en' AS is_t,
                       unnest(string_split(text, ' ')) AS term
                     FROM documents),
              f AS (SELECT doc_id, is_t,
                      ('0x' || substr(md5(term), 1, 12))::BIGINT % 64 AS f
                    FROM w),
              c AS (SELECT f, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
                      count(*) AS cr FROM f GROUP BY 1),
              t AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM c),
              lr AS (SELECT f, ln((ct + 1) * 1.0 / (tt + 64))
                          - ln((cr + 1) * 1.0 / (tr + 64)) AS lr
                     FROM c, t)
              SELECT f.doc_id, count(*) AS n_tokens,
                     round(sum(lr.lr), 6) AS weight
              FROM f JOIN lr USING (f) GROUP BY 1 ORDER BY doc_id""")),

    // BPE merge-pair statistics (tokenizer training, Sennrich et al.
    // 2016): the corpus is counted ONCE into a weighted vocabulary; the
    // pair ranking — BPE's merge-argmax — runs over distinct words only.
    // Integer counts, so cross-engine parity is exact
    "q_bpe_merges" -> Q(
      (s, d) => graft.text.BpeStats
        .topPairs(t(s, d, "documents"), col("text"), 20)
        .orderBy("rank"),
      Some("""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
                     FROM documents),
              wf AS (SELECT word, count(*) AS f FROM w
                     WHERE length(word) >= 2 GROUP BY 1),
              p AS (SELECT substr(word, CAST(i AS INT), 2) AS pair, f
                    FROM (SELECT word, f, unnest(range(1, length(word))) AS i
                          FROM wf)),
              a AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n
                    FROM p GROUP BY 1),
              r AS (SELECT pair, n,
                      row_number() OVER (ORDER BY n DESC, pair) AS rank
                    FROM a)
              SELECT rank, pair, n FROM r WHERE rank <= 20 ORDER BY rank""")),

    // CCNet-style corpus-wide paragraph dedup: first occurrence of every
    // (10-word-chunk) paragraph survives, documents reassembled in order
    // (ParaDedup Scaladoc carries the three-exchange 100 TB shape)
    "q_para_dedup" -> Q(
      (s, d) => graft.dedup.ParaDedup.dedupParagraphs(t(s, d, "documents"))
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                         FROM documents),
              c0 AS (SELECT doc_id, ws,
                       unnest(range(CAST(ceil(len(ws)/10.0) AS BIGINT))) AS i
                     FROM w),
              c AS (SELECT doc_id, i AS chunk_i,
                      array_to_string(ws[i*10+1 : i*10+10], ' ') AS para
                    FROM c0),
              k AS (SELECT doc_id, chunk_i, para,
                      doc_id*1000000 + chunk_i AS kk FROM c),
              f AS (SELECT para, min(kk) AS keep FROM k GROUP BY 1)
              SELECT k.doc_id, count(*) AS n_paras,
                CAST(sum(CASE WHEN k.kk = f.keep THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                coalesce(string_agg(CASE WHEN k.kk = f.keep THEN k.para END,
                  ' ' ORDER BY k.chunk_i), '') AS text_kept
              FROM k JOIN f USING (para)
              GROUP BY k.doc_id ORDER BY k.doc_id""")),

    // exact dedup by canonical key (Osm.merge_duplicated, osm.py:87-104)
    "q_dedup_exact" -> Q(
      (s, d) => Dedup.exactDedup(
        t(s, d, "documents"), substring(col("text"), 1, 30), col("doc_id"))
        .orderBy("k"),
      Some("""SELECT substr(text, 1, 30) AS k, min(doc_id) AS keep_id,
              count(*) AS n_dups FROM documents GROUP BY 1 ORDER BY k""")),

    // distinct-word overlap of consecutive doc pairs (set-join shape)
    "q_word_overlap" -> Q(
      (s, d) => {
        val words = t(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .distinct()
        words.as("a").join(words.as("b"),
            col("b.doc_id") === col("a.doc_id") + 1 && col("b.w") === col("a.w"))
          .groupBy(col("a.doc_id").as("id_a"))
          .agg(count(lit(1)).as("overlap"))
          .orderBy("id_a")
      },
      Some("""WITH w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents)
              SELECT a.doc_id AS id_a, count(*) AS overlap
              FROM w a JOIN w b ON b.doc_id = a.doc_id + 1 AND b.w = a.w
              GROUP BY a.doc_id ORDER BY id_a""")),

    // exact n-gram Jaccard near-dup pairs: PPJoin prefix filtering bounds the
    // candidate join (rarest-first global order; recall 1.0 by theorem)
    "q_jaccard_pairs" -> Q(
      (s, d) => Dedup.jaccardPairsExact(
          t(s, d, "documents"), "doc_id", "text", shingleN = 3, threshold = 0.6)
        .orderBy("id_a", "id_b"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              x AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) AS i FROM t),
              g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh FROM x),
              n AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
              c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                    FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
              SELECT id_a, id_b,
                round(inter*1.0/(na.sz + nb.sz - inter), 6) AS jaccard
              FROM c JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
              WHERE inter*1.0/(na.sz + nb.sz - inter) >= 0.6
              ORDER BY id_a, id_b""")),

    // CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) over the same
    // distinct-3-gram sets — catches near-SUBSET duplication (quote /
    // wrapper / aggregator pages) that Jaccard's union denominator
    // dilutes. Candidates via the min-side prefix filter (only the
    // smaller set needs a prefix; Dedup.containmentPairs Scaladoc carries
    // the 100 TB shape). Oracle = the exact all-shared-gram pair scan.
    "q_containment" -> Q(
      (s, d) => Dedup.containmentPairs(
          t(s, d, "documents"), "doc_id", "text", threshold = 0.7)
        .orderBy("id_a", "id_b"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              x AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) AS i FROM t),
              g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh FROM x),
              n AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
              c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                    FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
              SELECT id_a, id_b,
                round(inter*1.0/least(na.sz, nb.sz), 6) AS containment
              FROM c JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
              WHERE inter*1.0/least(na.sz, nb.sz) >= 0.7
              ORDER BY id_a, id_b""")),

    // edit-distance near-dup pairs: PassJoin lossless segment filter +
    // banded levenshtein verify (EditDedup Scaladoc carries the constant-
    // replication 100 TB shape). Oracle is the brute-force pair scan the
    // filter avoids, pre-filtered by the lossless |Δlen| <= tau bound.
    // PARITY NOTE: Spark's levenshtein counts CODEPOINTS, DuckDB's counts
    // BYTES — identical only on ASCII corpora (this one is; a non-ASCII
    // corpus would need a byte-cast oracle).
    "q_edit_dedup" -> Q(
      (s, d) => graft.dedup.EditDedup.nearDups(
          t(s, d, "documents"), "doc_id", "text", tau = 6)
        .orderBy("id_a", "id_b"),
      Some("""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                levenshtein(a.text, b.text) AS d
              FROM documents a JOIN documents b
                ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 6
              WHERE levenshtein(a.text, b.text) <= 6
              ORDER BY id_a, id_b""")),

    // BM25 top-k retrieval: inverted-index probe of corpus postings by a
    // small query set — queries are the first 3 tokens of every 100th doc
    // (Relevance.bm25TopK Scaladoc carries the broadcast-vocabulary shape)
    "q_bm25" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val queries = docs.filter(col("doc_id") % 100 === 7)
          .select(col("doc_id").as("qid"),
            concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("qtext"))
        graft.text.Relevance.bm25TopK(
            docs, "doc_id", col("text"), queries, "qid", col("qtext"), k = 5)
          .orderBy("qid", "rank")
      },
      Some("""WITH q AS (SELECT doc_id AS qid,
                       array_to_string(string_split(text, ' ')[1:3], ' ') AS qtext
                     FROM documents WHERE doc_id % 100 = 7),
              qt AS (SELECT DISTINCT qid,
                       unnest(string_split(qtext, ' ')) AS term FROM q),
              w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                    FROM documents),
              tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
              dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len
                     FROM tf GROUP BY 1),
              st AS (SELECT count(*) AS n,
                       CAST(sum(len) AS DOUBLE) / count(*) AS avgl FROM dl),
              tfq AS (SELECT * FROM tf
                      WHERE term IN (SELECT DISTINCT term FROM qt)),
              df AS (SELECT term, count(*) AS df FROM tfq GROUP BY 1),
              sc AS (SELECT qt.qid, tfq.doc_id,
                       round(sum(
                         ln(1.0 + ((SELECT n FROM st) * 1.0 - df.df + 0.5)
                                  / (df.df + 0.5))
                         * (tfq.tf * (1.2 + 1.0)
                            / (tfq.tf + 1.2 * (1.0 - 0.75
                               + 0.75 * dl.len / (SELECT avgl FROM st))))), 6)
                         AS score
                     FROM qt JOIN tfq USING (term) JOIN df USING (term)
                       JOIN dl ON dl.doc_id = tfq.doc_id
                     GROUP BY 1, 2),
              r AS (SELECT qid, doc_id, score,
                      row_number() OVER (PARTITION BY qid
                        ORDER BY score DESC, doc_id) AS rank
                    FROM sc)
              SELECT qid, rank, doc_id, score FROM r WHERE rank <= 5
              ORDER BY qid, rank""")),

    // corpus dedup SELECTION: one survivor per near-dup cluster (min id)
    // plus every unpaired doc — components over the exact-Jaccard pairs
    // (near-duplication is not transitive; the closure decides), replayed
    // in the oracle as a recursive-CTE transitive closure with min-label
    // components
    "q_dedup_keep" -> Q(
      (s, d) => Dedup.keepRepresentatives(
          tSp(s, d, "documents"), "doc_id",
          Dedup.jaccardPairsExact(
            tSp(s, d, "documents"), "doc_id", "text", shingleN = 3, threshold = 0.6))
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              x AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) AS i FROM t),
              g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh FROM x),
              n AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
              c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                    FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
              p AS (SELECT id_a, id_b
                    FROM c JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
                    WHERE inter*1.0/(na.sz + nb.sz - inter) >= 0.6),
              e AS (SELECT id_a AS s, id_b AS d FROM p
                    UNION ALL SELECT id_b, id_a FROM p),
              r(id, m) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.s, r.m FROM e JOIN r ON r.id = e.d)
              SELECT id AS doc_id
              FROM (SELECT id, min(m) AS comp FROM r GROUP BY id)
              WHERE id = comp ORDER BY doc_id""")),

    // incremental ingestion dedup: sources src16-19 are the INCOMING crawl
    // batch, everything else the already-ingested corpus whose canonical
    // keys live in a BUCKETED+SORTED index table (shuffle paid once at
    // index-write time). The batch anti-joins the index (index side:
    // zero exchange, zero sort) and collapses in-batch dups to min-id —
    // ONE exchange total for the whole ingest, regardless of corpus size
    // (plan asserted in IncrementalDedupSpec). Canonical key here is the
    // 12-char text prefix (same family as q_dedup_exact's key).
    "q_dedup_incr" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val batch = Seq("src16", "src17", "src18", "src19")
        val key = substring(col("text"), 1, 12)
        Dedup.writeDedupIndex(
          docs.filter(!col("source").isin(batch: _*)), key, "dedup_idx", 8)
        Dedup.incrementalNew(
          docs.filter(col("source").isin(batch: _*)), "doc_id", key, "dedup_idx")
          .orderBy("k")
      },
      Some("""WITH inc AS (SELECT doc_id, substr(text, 1, 12) AS k FROM documents
                           WHERE source IN ('src16','src17','src18','src19')),
              idx AS (SELECT DISTINCT substr(text, 1, 12) AS k FROM documents
                      WHERE source NOT IN ('src16','src17','src18','src19'))
              SELECT k, min(doc_id) AS keep_id, count(*) AS n_in_batch
              FROM inc WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.k = inc.k)
              GROUP BY k ORDER BY k""")),

    // incremental NEAR-dup ingestion: the MinHash analog of q_dedup_incr —
    // the corpus's LSH band membership and shingle sets are persisted
    // bucketed+sorted (shuffle paid once at index-write), and the incoming
    // batch probes them with zero corpus-side exchange. Oracle = exact
    // shingle Jaccard over every pair touching the batch (LSH at these
    // parameters has total recall on this corpus, the same contract
    // q_dedup_minhash proves each round); cross pairs corpus-id-first.
    "q_minhash_incr" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val batch = Seq("src16", "src17", "src18", "src19")
        Dedup.writeMinhashIndex(
          docs.filter(!col("source").isin(batch: _*)), "doc_id", "text",
          "mh_idx", 8)
        Dedup.incrementalNearDups(
          docs.filter(col("source").isin(batch: _*)), "doc_id", "text",
          "mh_idx")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
              x AS (SELECT doc_id, source, w, unnest(range(1, greatest(len(w)-1, 2))) AS i FROM t),
              g AS (SELECT DISTINCT doc_id, source, array_to_string(w[i:i+2], ' ') AS sh FROM x),
              n AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
              b AS (SELECT doc_id, sh FROM g WHERE source IN ('src16','src17','src18','src19')),
              c AS (SELECT doc_id, sh FROM g WHERE source NOT IN ('src16','src17','src18','src19')),
              cc AS (SELECT c.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                     FROM c JOIN b ON c.sh = b.sh GROUP BY 1,2),
              bc AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b, count(*) AS inter
                     FROM b a JOIN b b2 ON a.sh = b2.sh AND a.doc_id < b2.doc_id GROUP BY 1,2),
              u AS (SELECT * FROM cc UNION ALL SELECT * FROM bc)
              SELECT id_a, id_b, round(inter*1.0/(na.sz+nb.sz-inter),6) AS jaccard
              FROM u JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
              WHERE inter*1.0/(na.sz+nb.sz-inter) >= 0.6
              ORDER BY id_a, id_b""")),

    // deterministic train/val corpus split: bucket = 48 bits of
    // md5(doc_id) mod 100 — a pure function of the document id, so the
    // split is STABLE across reruns, cluster sizes, and corpus appends
    // (new docs never reshuffle old assignments). Scan-shaped with
    // map-side partial aggregation; the md5-prefix arithmetic is
    // bit-identical in both engines (48 bits fit signed ranges)
    "q_split_assign" -> Q(
      (s, d) => {
        val bucket = TextFns.splitBucket(col("doc_id"))
        t(s, d, "documents")
          .select(col("lang"),
            when(bucket < 90, "train").otherwise("val").as("split"),
            TextFns.tokenCount(col("text")).as("n_tokens"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
          .orderBy("split", "lang")
      },
      Some("""SELECT
                CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100 < 90
                  THEN 'train' ELSE 'val' END AS split,
                lang, count(*) AS n_docs,
                CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS total_tokens
              FROM documents GROUP BY 1, 2 ORDER BY 1, 2""")),

    // token-budget sampling: keep docs in deterministic (md5-bucket, id)
    // order until 1/3 of the corpus tokens are taken. Two-phase: bounded
    // 100-row bucket totals pick the full buckets with ZERO sorting; only
    // the one boundary bucket (~1% of the corpus) runs the cumulative-sum
    // window. The oracle replays the equivalent single global window
    "q_token_budget" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val toks = graft.text.TextFns.tokenCount(col("text"))
        // budget = 1/3 of total tokens, derived from the phase-1 bucket
        // totals themselves — no separate full-corpus sum scan
        graft.text.Sampling.tokenBudgetFraction(docs, "doc_id", toks, 1, 3)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100 AS bucket,
                length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
              FROM documents),
              b AS (SELECT sum(n_tokens)//3 AS budget FROM t),
              o AS (SELECT doc_id, n_tokens,
                      coalesce(sum(n_tokens) OVER (ORDER BY bucket, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
                    FROM t)
              SELECT doc_id, n_tokens FROM o, b WHERE prior < budget
              ORDER BY doc_id""")),

    // benchmark decontamination (GPT-3 appendix C shape): the first 32
    // docs stand in for the held-out eval set — an ABSOLUTE size, the way
    // real benchmark suites are fixed-size no matter how large the
    // training corpus grows, which is what licenses the broadcast. A
    // training doc is contaminated when it shares any distinct word
    // 4-gram with the eval set; the corpus side is scan-shaped (shingle +
    // explode + broadcast-hash join), so the plan survives 10^12 training
    // docs with the eval side as the only driver-adjacent data
    "q_decontaminate" -> Q(
      (s, d) => Dedup.decontaminate(
          tSp(s, d, "documents"), "doc_id", "text",
          col("doc_id") < 32, n = 4)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              x AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-2, 2))) AS i FROM t),
              g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS sh FROM x),
              e AS (SELECT DISTINCT sh FROM g WHERE doc_id < 32)
              SELECT doc_id, count(*) AS n_hits
              FROM g JOIN e USING (sh)
              WHERE doc_id >= 32
              GROUP BY doc_id ORDER BY doc_id""")),

    // PII redaction before anything ships to training: plant deterministic
    // email/phone strings on a doc_id residue, then count+scrub them in one
    // codegen'd scan (regexp_extract_all + regexp_replace). Both regexes
    // use only Java/RE2-identical syntax so the redacted text itself is
    // hash-gated, not just the counts
    "q_pii_scrub" -> Q(
      (s, d) => {
        val aug = t(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 5 === 0,
              concat(lit(" contact user"), col("doc_id").cast("string"),
                lit("@example.com"))).otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              concat(lit(" call 555-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
              .otherwise(lit(""))).as("text"))
        aug.select(col("doc_id"),
            TextFns.piiCount(col("text"), TextFns.EmailRe).as("n_emails"),
            TextFns.piiCount(col("text"), TextFns.PhoneRe).as("n_phones"),
            TextFns.piiScrub(col("text")).as("clean_text"))
          .filter(col("n_emails") + col("n_phones") > 0)
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (SELECT doc_id, text ||
                CASE WHEN doc_id % 5 = 0
                  THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                  ELSE '' END ||
                CASE WHEN doc_id % 7 = 0
                  THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END AS text
              FROM documents)
              SELECT doc_id,
                len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9]+\.[a-z]+')) AS n_emails,
                len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}')) AS n_phones,
                regexp_replace(
                  regexp_replace(text, '[a-z0-9._]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
                  '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean_text
              FROM aug
              WHERE len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9]+\.[a-z]+'))
                  + len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}')) > 0
              ORDER BY doc_id""")),

    // sequence packing (concat-and-chunk): chunk the deterministic
    // (md5-bucket, id)-ordered token stream into 128-token training
    // sequences; per doc, the first sequence it lands in and how many it
    // spans. Two-phase prefix sum — bounded bucket totals then 100
    // independent in-bucket windows — so no task ever owns a global order;
    // the oracle replays the equivalent single global window
    "q_seq_pack" -> Q(
      (s, d) => graft.text.Packing.seqPack(
          t(s, d, "documents"), "doc_id",
          graft.text.TextFns.tokenCount(col("text")), seqLen = 128)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100 AS bucket,
                length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
              FROM documents),
              o AS (SELECT doc_id, n_tokens,
                      coalesce(sum(n_tokens) OVER (ORDER BY bucket, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
                    FROM t)
              SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                CAST(prior // 128 AS BIGINT) AS first_seq,
                CAST(CASE WHEN n_tokens > 0
                  THEN (prior + n_tokens - 1) // 128 - prior // 128 + 1
                  ELSE 0 END AS BIGINT) AS n_seqs
              FROM o ORDER BY doc_id""")),

    // domain-mixture reweighting (DoReMi shape): downsample each language
    // toward a 40/15/15/15/15 token mixture; the binding domain (the one
    // shortest of its target) is kept whole and pins the output size. All
    // arithmetic is integer basis points, acceptance is a salted-hash
    // coordinate — per-domain totals are a bounded aggregate, thresholds
    // broadcast back, the corpus side stays scan-shaped. A domain outside
    // the target map is dropped on BOTH sides (the oracle CASE has no
    // ELSE, matching domainMix's null-target fold)
    "q_domain_mix" -> Q(
      (s, d) => graft.text.Sampling.domainMix(
          t(s, d, "documents"), "doc_id", "lang",
          graft.text.TextFns.tokenCount(col("text")),
          Map("en" -> 4000L, "de" -> 1500L, "es" -> 1500L,
              "fr" -> 1500L, "zh" -> 1500L))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, lang,
                length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 12))::BIGINT % 10000 AS bp
              FROM documents),
              d AS (SELECT lang, sum(n_tokens) AS dt,
                      CASE lang WHEN 'en' THEN 4000 WHEN 'de' THEN 1500
                        WHEN 'es' THEN 1500 WHEN 'fr' THEN 1500
                        WHEN 'zh' THEN 1500 END AS tgt
                    FROM t GROUP BY lang),
              s AS (SELECT min(dt * 10000 // tgt) AS stot FROM d),
              r AS (SELECT lang, ((tgt * stot // 10000) * 10000) // dt AS thr FROM d, s)
              SELECT doc_id, t.lang AS domain, CAST(n_tokens AS BIGINT) AS n_tokens
              FROM t JOIN r ON t.lang = r.lang
              WHERE bp < thr ORDER BY doc_id""")),

    // the END-TO-END corpus cleaning pipeline, composed from the gated
    // primitives: length floor -> language id == 'en' -> duplicate-2-gram
    // repetition cap -> exact-Jaccard near-dup pairs -> one-survivor-per-
    // cluster selection -> per-survivor token counts. Everything stays one
    // declarative plan (filters are scan-shaped; the only shuffles are the
    // pair join and the component closure); the oracle chains the same
    // proven SQL fragments
    "q_corpus_clean" -> Q(
      (s, d) => {
        val toks = split(col("text"), " ")
        val docs = tSp(s, d, "documents")
        // persisted: three consumers read the filter cascade (the pair
        // join's one shingle table, the closure's vertex ids, the
        // token-count join) — without the cache each would re-scan the
        // documents and re-run the length, langId and repetition filters
        val filtered = graft.CacheBin.persist(docs
          .filter(TextFns.charLen(col("text")) >= 100)
          .filter(TextFns.langId(col("text")) === "en")
          .select(col("doc_id"), col("text"), Dedup.shingles(toks, 2).as("gs"))
          .filter(lit(1.0) - size(array_distinct(col("gs"))) / size(col("gs")) <= 0.2)
          .select("doc_id", "text"))
        val pairs = Dedup.jaccardPairsExact(
          filtered, "doc_id", "text", shingleN = 3, threshold = 0.6)
        Dedup.keepRepresentatives(filtered, "doc_id", pairs)
          .join(filtered, "doc_id")
          .select(col("doc_id"), TextFns.tokenCount(col("text")).as("n_tokens"))
          .orderBy("doc_id")
      },
      Some {
        val langs = TextFns.langLexicon.toSeq.sortBy(_._1)
        val scoreCols = langs.map { case (lang, words) =>
          val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_intersect(toks, $arr)) AS s_$lang"
        }.mkString(", ")
        val m = langs.map(l => s"s_${l._1}").mkString("greatest(", ", ", ")")
        val pick = langs.map { case (lang, _) =>
          s"WHEN s_$lang = m THEN '$lang'"
        }.mkString(" ")
        s"""WITH RECURSIVE
            base AS (SELECT doc_id, text FROM documents WHERE length(text) >= 100),
            lt AS (SELECT doc_id, text,
              list_distinct(regexp_split_to_array(lower(text), '[^\\p{L}]+')) AS toks
              FROM base),
            sc AS (SELECT doc_id, text, $scoreCols FROM lt),
            mm AS (SELECT *, $m AS m FROM sc),
            en AS (SELECT doc_id, text FROM mm
                   WHERE (CASE WHEN m = 0 THEN 'und' $pick END) = 'en'),
            w2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM en),
            x2 AS (SELECT doc_id, w, unnest(range(1, greatest(len(w), 2))) AS i FROM w2),
            g2 AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS sh FROM x2),
            rep AS (SELECT doc_id FROM g2 GROUP BY doc_id
                    HAVING 1.0 - count(DISTINCT sh)*1.0/count(*) <= 0.2),
            filt AS (SELECT e.doc_id, e.text FROM en e
                     JOIN rep ON rep.doc_id = e.doc_id),
            jt AS (SELECT doc_id, string_split(text, ' ') AS w FROM filt),
            jx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) AS i FROM jt),
            jg AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh FROM jx),
            jn AS (SELECT doc_id, count(*) AS sz FROM jg GROUP BY doc_id),
            jc AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                   FROM jg a JOIN jg b ON a.sh = b.sh AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
            jp AS (SELECT id_a, id_b
                   FROM jc JOIN jn na ON na.doc_id = id_a JOIN jn nb ON nb.doc_id = id_b
                   WHERE inter*1.0/(na.sz + nb.sz - inter) >= 0.6),
            je AS (SELECT id_a AS s, id_b AS d FROM jp
                   UNION ALL SELECT id_b, id_a FROM jp),
            r(id, m) AS (
              SELECT doc_id, doc_id FROM filt
              UNION
              SELECT je.s, r.m FROM je JOIN r ON r.id = je.d)
            SELECT f.doc_id,
              length(f.text) - length(replace(f.text, ' ', '')) + 1 AS n_tokens
            FROM (SELECT id, min(m) AS comp FROM r GROUP BY id) k
            JOIN filt f ON f.doc_id = k.id
            WHERE k.id = k.comp ORDER BY 1"""
      }),

    // STREAMING near-dup filter: odd-id documents stream against the
    // even-id static corpus through the stream-static minhash band join
    // (EventStream.nearDupFilter). Gated by the exact-Jaccard oracle: a
    // streamed doc survives iff NO even doc matches at >= 0.6 — valid for
    // the same reason as q_dedup_minhash (this corpus's cross-pairs sit at
    // s >= 0.9 where the banding's deterministic miss prob is < 1e-7).
    "q_dedup_stream" -> Q(
      (s, d) => graft.streaming.EventStream.runNearDupOnce(s, d)
        .select("doc_id").orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              x AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) AS i FROM t),
              g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh FROM x),
              n AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
              c AS (SELECT a.doc_id AS o, b.doc_id AS e, count(*) AS inter
                    FROM g a JOIN g b ON a.sh = b.sh
                     AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
                    GROUP BY 1, 2),
              dropped AS (SELECT DISTINCT o FROM c
                          JOIN n na ON na.doc_id = o JOIN n nb ON nb.doc_id = e
                          WHERE inter*1.0/(na.sz + nb.sz - inter) >= 0.6)
              SELECT doc_id FROM documents
              WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT o FROM dropped)
              ORDER BY doc_id""")),

    // MinHash+LSH near-dup (scale path). Gated against the EXACT-Jaccard
    // pair oracle: precision is 1.0 by construction (candidates verify
    // exact Jaccard) and at this corpus the planted pairs sit at s >= 0.9
    // where the 16x4 banding's miss probability is (1-s^4)^16 < 1e-7 and
    // deterministic (fixed hashes) — so LSH output == exact output, and the
    // DuckDB row gates recall, not just shape.
    "q_dedup_minhash" -> Q(
      (s, d) => Dedup.minhashNearDups(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.6)
        .orderBy("id_a", "id_b"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              x AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) AS i FROM t),
              g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh FROM x),
              n AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
              c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                    FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
              SELECT id_a, id_b,
                round(inter*1.0/(na.sz + nb.sz - inter), 6) AS jaccard
              FROM c JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
              WHERE inter*1.0/(na.sz + nb.sz - inter) >= 0.6
              ORDER BY id_a, id_b""")),

    // SimHash near-dup
    // gated end-to-end: the md5-derived token hash is bit-reproducible in
    // DuckDB, the combination-block keys (Manku WWW'07 pigeonhole: b=12
    // blocks, C(12,4) combos of 4 agreeing blocks -> ~21-bit keys) are
    // lossless for maxDist=8, so the engine's banded output must equal the
    // oracle's brute-force O(n²) hamming scan exactly (production default
    // keeps the faster hash64 — only the pluggable per-token hash differs,
    // never the join machinery).
    "q_dedup_simhash" -> Q(
      (s, d) => {
        import s.implicits._
        val docs = tSp(s, d, "documents")
          .select(col("doc_id"),
            filter(split(col("text"), " "), x => length(x) > lit(0)).as("toks"))
          .filter(size(col("toks")) > 0)
          .as[(Long, Seq[String])]
        Dedup.simhashNearDups(docs, maxDist = 8, tokenHash = Dedup.md5Hash64)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
              ), th AS (
                SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
                FROM toks WHERE tok <> ''
              ), votes AS (
                SELECT doc_id, b,
                       sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
                FROM th CROSS JOIN (SELECT unnest(range(64)) AS b)
                GROUP BY doc_id, b
              ), sigs AS (
                SELECT doc_id,
                       bit_or(CASE WHEN v > 0 THEN (1::UBIGINT << b)
                              ELSE 0::UBIGINT END) AS sig
                FROM votes GROUP BY doc_id
              )
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.sig, b.sig)) <= 8
              ORDER BY id_a, id_b""")),

    // embedding-cosine near-duplicate pairs (the brief's 5th dedup mode):
    // LSH sign buckets + Hamming-1 multiprobe candidates, one pre-normed
    // dot per pair verifies cos >= τ. Gated like q_ann_topk: nBits=4 pinned
    // so the oracle replays bucket assignment from the same embedded
    // hyperplane constants, then applies the identical threshold.
    "q_dedup_embed" -> Q(
      (s, d) => Similarity
        .embedNearDups(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.35, nBits = 4)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH h(b, d, w) AS (VALUES $annPlanesSql),
              comp AS (
                SELECT vec_id, generate_subscripts(embedding, 1) AS d,
                       unnest(embedding)::DOUBLE AS x FROM embeddings
              ), dots AS (
                SELECT vec_id, b, sum(x * w) AS s
                FROM comp JOIN h USING (d) GROUP BY vec_id, b
              ), buck AS (
                SELECT vec_id,
                       sum(CASE WHEN s >= 0 THEN (1::UBIGINT << b)
                           ELSE 0::UBIGINT END)::UBIGINT AS bkt
                FROM dots GROUP BY vec_id
              ), pairs AS (
                SELECT q.vec_id AS id_a, x.vec_id AS id_b
                FROM buck q JOIN buck x
                  ON q.vec_id < x.vec_id
                 AND bit_count(xor(q.bkt, x.bkt)) <= 1)
              SELECT p.id_a, p.id_b
              FROM pairs p
              JOIN embeddings a ON a.vec_id = p.id_a
              JOIN embeddings b ON b.vec_id = p.id_b
              WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35
              ORDER BY id_a, id_b""")),

    // SemDeDup (cluster-then-compare semantic dedup): deterministic IVF
    // clusters (iters=0 md5-sampled centroids, the q_ann_ivf replay),
    // within-cluster cosine pairs, min-id survivor per component; output =
    // the REMOVED docs with their cluster. Pair work is n²/nlist, the
    // cluster join is an equi-join, components are alternating-star rounds
    "q_semdedup" -> Q(
      (s, d) => Similarity.semDeDup(tSp(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.35, nlist = 16, iters = 0,
          seedHash = Similarity.md5SeedHash)
        .orderBy("vec_id"),
      Some("""WITH RECURSIVE e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
              seeds AS (
                SELECT id, ('0x' || substr(md5(id::VARCHAR), 1, 16))::UBIGINT AS h
                FROM e
              ), cent AS (
                SELECT id AS cid, row_number() OVER (ORDER BY h) - 1 AS cidx
                FROM seeds QUALIFY row_number() OVER (ORDER BY h) <= 16
              ), ccomp AS (
                SELECT c.cidx, generate_subscripts(e.v, 1) AS d,
                       unnest(e.v)::DOUBLE AS cx
                FROM cent c JOIN e ON e.id = c.cid
              ), comp AS (
                SELECT id, generate_subscripts(v, 1) AS d,
                       unnest(v)::DOUBLE AS x FROM e
              ), dist AS (
                SELECT id, cidx, sum((x - cx) * (x - cx)) AS dd
                FROM comp JOIN ccomp USING (d) GROUP BY id, cidx
              ), assign AS (
                SELECT id, cidx AS list FROM (
                  SELECT id, cidx,
                    row_number() OVER (PARTITION BY id ORDER BY dd, cidx) AS rn
                  FROM dist) WHERE rn = 1
              ), p AS (
                SELECT a.id AS id_a, b.id AS id_b
                FROM assign a JOIN assign b ON a.list = b.list AND a.id < b.id
                JOIN embeddings ea ON ea.vec_id = a.id
                JOIN embeddings eb ON eb.vec_id = b.id
                WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.35
              ), ed AS (SELECT id_a AS s, id_b AS d FROM p
                        UNION ALL SELECT id_b, id_a FROM p),
              r(id, m) AS (
                SELECT id, id FROM e
                UNION
                SELECT ed.s, r.m FROM ed JOIN r ON r.id = ed.d)
              SELECT c.id AS vec_id, CAST(a.list AS INT) AS list
              FROM (SELECT id, min(m) AS cm FROM r GROUP BY id) c
              JOIN assign a USING (id)
              WHERE c.id != c.cm ORDER BY vec_id""")),

    // exact brute-force nearest neighbors over embeddings (cosine)
    "q_nn_exact" -> Q(
      (s, d) => Similarity
        .bruteForceTopK(tSp(s, d, "embeddings"), "vec_id", "embedding", 3)
        .orderBy("vec_id", "rank"),
      Some("""SELECT vec_id, rank, nbr_id FROM (
                SELECT a.vec_id, b.vec_id AS nbr_id,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
                             b.vec_id) AS rank
                FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id)
              WHERE rank <= 3 ORDER BY vec_id, rank""")),

    // EXACT nearest neighbors via the blocked IVF + triangle-pruning path
    // (Similarity.exactTopK): same answer as brute force — the pair cosine
    // is the identical DotF32 kernel on the identical float arrays — but
    // candidate work per query is nprobe lists + the un-prunable tail
    // instead of all n. Gated by the SAME brute-force SQL oracle, which IS
    // the exactness proof at the gate.
    "q_nn_blocked" -> Q(
      (s, d) => Similarity
        .exactTopK(tSp(s, d, "embeddings"), "vec_id", "embedding", 3)
        .orderBy("vec_id", "rank"),
      Some("""SELECT vec_id, rank, nbr_id FROM (
                SELECT a.vec_id, b.vec_id AS nbr_id,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
                             b.vec_id) AS rank
                FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id)
              WHERE rank <= 3 ORDER BY vec_id, rank""")),

    // LSH-bucketed ANN, oracle-gated end-to-end: nBits pinned to 4 so the
    // oracle can embed the SAME float-rounded hyperplane constants as SQL
    // literals and replay bucket assignment + Hamming-1 multiprobe +
    // candidate ranking closed-form. The approximation (which neighbors the
    // buckets can see) is itself deterministic, so the gate is exact; the
    // auto-nBits scale path keeps its recall-vs-scan spec.
    "q_ann_topk" -> Q(
      (s, d) => Similarity
        .annTopK(tSp(s, d, "embeddings"), "vec_id", "embedding", 3, nBits = 4)
        .orderBy("vec_id", "rank"),
      Some(s"""WITH h(b, d, w) AS (VALUES $annPlanesSql),
              comp AS (
                SELECT vec_id, generate_subscripts(embedding, 1) AS d,
                       unnest(embedding)::DOUBLE AS x FROM embeddings
              ), dots AS (
                SELECT vec_id, b, sum(x * w) AS s
                FROM comp JOIN h USING (d) GROUP BY vec_id, b
              ), buck AS (
                SELECT vec_id,
                       sum(CASE WHEN s >= 0 THEN (1::UBIGINT << b)
                           ELSE 0::UBIGINT END)::UBIGINT AS bkt
                FROM dots GROUP BY vec_id
              ), cand AS (
                SELECT q.vec_id, x.vec_id AS nbr_id
                FROM buck q JOIN buck x
                  ON q.vec_id != x.vec_id
                 AND bit_count(xor(q.bkt, x.bkt)) <= 1
              ), ranked AS (
                SELECT c.vec_id, c.nbr_id,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
                             c.nbr_id) AS rank
                FROM cand c
                JOIN embeddings a ON a.vec_id = c.vec_id
                JOIN embeddings b ON b.vec_id = c.nbr_id)
              SELECT vec_id, rank, nbr_id FROM ranked
              WHERE rank <= 3 ORDER BY vec_id, rank""")),

    // IVF ANN: deterministic inverted lists + nprobe probing, oracle-gated
    // with iters=0 (centroids = the md5-order sampled seed vectors, a pure
    // SQL-expressible function of the table) — the list build, probe join,
    // and ranking are the production machinery; Lloyd refinement keeps its
    // recall + determinism specs.
    "q_ann_ivf" -> Q(
      (s, d) => Similarity
        .ivfTopK(t(s, d, "embeddings"), "vec_id", "embedding", 3,
          iters = 0, seedHash = Similarity.md5SeedHash)
        .orderBy("vec_id", "rank"),
      Some("""WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
              seeds AS (
                SELECT id, ('0x' || substr(md5(id::VARCHAR), 1, 16))::UBIGINT AS h
                FROM e
              ), cent AS (
                SELECT id AS cid, row_number() OVER (ORDER BY h) - 1 AS cidx
                FROM seeds QUALIFY row_number() OVER (ORDER BY h) <= 16
              ), ccomp AS (
                SELECT c.cidx, generate_subscripts(e.v, 1) AS d,
                       unnest(e.v)::DOUBLE AS cx
                FROM cent c JOIN e ON e.id = c.cid
              ), comp AS (
                SELECT id, generate_subscripts(v, 1) AS d,
                       unnest(v)::DOUBLE AS x FROM e
              ), dist AS (
                SELECT id, cidx, sum((x - cx) * (x - cx)) AS dd
                FROM comp JOIN ccomp USING (d) GROUP BY id, cidx
              ), rankedc AS (
                SELECT id, cidx,
                  row_number() OVER (PARTITION BY id ORDER BY dd, cidx) AS rn
                FROM dist
              ), assign AS (SELECT id AS nbr_id, cidx AS list FROM rankedc WHERE rn = 1),
              probes AS (SELECT id AS vec_id, cidx AS list FROM rankedc WHERE rn <= 4),
              cand AS (
                SELECT DISTINCT p.vec_id, a.nbr_id
                FROM probes p JOIN assign a USING (list)
                WHERE p.vec_id != a.nbr_id
              ), ranked AS (
                SELECT c.vec_id, c.nbr_id,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY list_cosine_similarity(a2.embedding, b2.embedding) DESC,
                             c.nbr_id) AS rank
                FROM cand c
                JOIN embeddings a2 ON a2.vec_id = c.vec_id
                JOIN embeddings b2 ON b2.vec_id = c.nbr_id)
              SELECT vec_id, rank, nbr_id FROM ranked
              WHERE rank <= 3 ORDER BY vec_id, rank""")),

    // persisted-IVF-index ANN: the corpus inverted lists are written
    // bucketed ONCE (writeIvfIndex), then a query batch (every 10th
    // vector) probes them with zero corpus-side exchange. Same IVF replay
    // oracle as q_ann_ivf, probes restricted to the batch.
    "q_ann_index" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.writeIvfIndex(emb, "vec_id", "embedding", "ivf_idx", 8,
          iters = 0, seedHash = Similarity.md5SeedHash)
        Similarity.ivfProbeIndex(emb.filter(col("vec_id") % 10 === 0),
          "vec_id", "embedding", "ivf_idx", 3)
          .orderBy("vec_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
              seeds AS (
                SELECT id, ('0x' || substr(md5(id::VARCHAR), 1, 16))::UBIGINT AS h
                FROM e
              ), cent AS (
                SELECT id AS cid, row_number() OVER (ORDER BY h) - 1 AS cidx
                FROM seeds QUALIFY row_number() OVER (ORDER BY h) <= 16
              ), ccomp AS (
                SELECT c.cidx, generate_subscripts(e.v, 1) AS d,
                       unnest(e.v)::DOUBLE AS cx
                FROM cent c JOIN e ON e.id = c.cid
              ), comp AS (
                SELECT id, generate_subscripts(v, 1) AS d,
                       unnest(v)::DOUBLE AS x FROM e
              ), dist AS (
                SELECT id, cidx, sum((x - cx) * (x - cx)) AS dd
                FROM comp JOIN ccomp USING (d) GROUP BY id, cidx
              ), rankedc AS (
                SELECT id, cidx,
                  row_number() OVER (PARTITION BY id ORDER BY dd, cidx) AS rn
                FROM dist
              ), assign AS (SELECT id AS nbr_id, cidx AS list FROM rankedc WHERE rn = 1),
              probes AS (SELECT id AS vec_id, cidx AS list FROM rankedc
                         WHERE rn <= 4 AND id % 10 = 0),
              cand AS (
                SELECT DISTINCT p.vec_id, a.nbr_id
                FROM probes p JOIN assign a USING (list)
                WHERE p.vec_id != a.nbr_id
              ), ranked AS (
                SELECT c.vec_id, c.nbr_id,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY list_cosine_similarity(a2.embedding, b2.embedding) DESC,
                             c.nbr_id) AS rank
                FROM cand c
                JOIN embeddings a2 ON a2.vec_id = c.vec_id
                JOIN embeddings b2 ON b2.vec_id = c.nbr_id)
              SELECT vec_id, rank, nbr_id FROM ranked
              WHERE rank <= 3 ORDER BY vec_id, rank""")),

    // heuristic language id — the classifier is deterministic column math
    // (stopword-hit argmax, earliest language wins ties), so the oracle
    // replays the identical decision rule in DuckDB
    "q_lang_id" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextFns.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      Some {
        val langs = TextFns.langLexicon.toSeq.sortBy(_._1)
        val scoreCols = langs.map { case (lang, words) =>
          val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_intersect(toks, $arr)) AS s_$lang"
        }.mkString(", ")
        val m = langs.map(l => s"s_${l._1}").mkString("greatest(", ", ", ")")
        val pick = langs.map { case (lang, _) =>
          s"WHEN s_$lang = m THEN '$lang'"
        }.mkString(" ")
        s"""WITH t AS (SELECT doc_id, lang,
              list_distinct(regexp_split_to_array(lower(text), '[^\\p{L}]+')) AS toks
              FROM documents),
            sc AS (SELECT doc_id, lang, $scoreCols FROM t),
            mm AS (SELECT *, $m AS m FROM sc)
            SELECT doc_id, lang,
              CASE WHEN m = 0 THEN 'und' $pick END AS lang_pred
            FROM mm ORDER BY doc_id"""
      }),

    // rolling-hash fingerprint dedup groups. The 64-bit hash value itself is
    // not SQL-expressible, but its CONTRACT is: constant on equal texts,
    // injective on distinct ones (at corpus size) — so the groups the
    // fingerprint induces must equal the groups induced by text equality,
    // which DuckDB computes directly.
    "q_fingerprint" -> Q(
      (s, d) => {
        import s.implicits._
        val fp = t(s, d, "documents")
          .select(col("doc_id"), col("text"))
          .as[(Long, String)]
          .map { case (id, txt) => (id, TextFns.fingerprint64(txt)) }
          .toDF("doc_id", "fp")
        fp.join(
            fp.groupBy("fp").agg(min("doc_id").as("fp_group")), "fp")
          .select("doc_id", "fp_group")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS fp_group
              FROM documents ORDER BY doc_id""")),

    // winnowing fingerprints (text/Winnow.fingerprints): min-hash-per-
    // window k-gram selection (the MOSS rule), k=4, w=5 — packed-BIGINT
    // rightmost-min ties, 40-bit md5 gram hashes, all in-row HOF math.
    // The oracle replays the identical packing with a window frame.
    "q_winnow" -> Q(
      (s, d) => graft.text.Winnow.fingerprints(
          tSp(s, d, "documents"), col("doc_id"), col("text"), k = 4, w = 5)
        .orderBy("id", "pos"),
      Some("""WITH toks AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS l
                FROM documents),
              g AS (SELECT doc_id, i,
                      ('0x' || substr(md5(array_to_string(l[i+1 : i+4], ' ')),
                        1, 12))::BIGINT % 1099511627776 * 32768
                        + (32767 - i) AS pk
                    FROM (SELECT doc_id, l, unnest(range(len(l) - 3)) AS i
                          FROM toks WHERE len(l) >= 4)),
              sel AS (SELECT DISTINCT doc_id,
                        min(pk) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS s
                      FROM g)
              SELECT doc_id AS id, 32767 - s % 32768 AS pos,
                s // 32768 AS gram_hash
              FROM sel ORDER BY id, pos""")),

    // winnow near-dup pairs (Winnow.nearDupPairs — the MOSS matching
    // step): a derived corpus where each group of 3 docs shares its
    // anchor's 30-token prefix, so intra-group pairs MUST share selected
    // hashes; hashes in >10 docs are boilerplate-capped. The oracle
    // rebuilds the derived corpus and replays the whole selection+join.
    "q_winnow_pairs" -> Q(
      (s, d) => {
        val base = tSp(s, d, "documents").select(col("doc_id"), col("text"))
        val anchors = base.select(col("doc_id").as("aid"), col("text").as("atext"))
        val derived = base.withColumn("aid", expr("doc_id div 3 * 3"))
          .join(anchors, "aid")
          .select(col("doc_id"), concat_ws(" ",
            array_join(slice(filter(split(col("atext"), " "),
              t => length(t) > lit(0)), 1, 30), " "),
            col("text")).as("text"))
        graft.text.Winnow.nearDupPairs(derived, col("doc_id"), col("text"),
            k = 4, w = 5, minShared = 2L, maxHashDocs = 10L)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
              der AS (SELECT b.doc_id,
                        array_to_string(list_filter(string_split(a.text, ' '),
                          x -> x <> '')[1:30], ' ') || ' ' || b.text AS text
                      FROM base b JOIN base a ON a.doc_id = b.doc_id // 3 * 3),
              toks AS (SELECT doc_id,
                         list_filter(string_split(text, ' '), x -> x <> '') AS l
                       FROM der),
              g AS (SELECT doc_id, i,
                      ('0x' || substr(md5(array_to_string(l[i+1 : i+4], ' ')),
                        1, 12))::BIGINT % 1099511627776 * 32768
                        + (32767 - i) AS pk
                    FROM (SELECT doc_id, l, unnest(range(len(l) - 3)) AS i
                          FROM toks WHERE len(l) >= 4)),
              sel AS (SELECT DISTINCT doc_id,
                        min(pk) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS s
                      FROM g),
              fp AS (SELECT DISTINCT doc_id AS id, s // 32768 AS h FROM sel),
              hot AS (SELECT h FROM fp GROUP BY h HAVING count(*) > 10),
              ok AS (SELECT id, h FROM fp WHERE h NOT IN (SELECT h FROM hot))
              SELECT x.id AS id_a, y.id AS id_b, count(*) AS shared
              FROM ok x JOIN ok y ON x.h = y.h AND x.id < y.id
              GROUP BY x.id, y.id
              HAVING count(*) >= 2
              ORDER BY id_a, id_b""")),

    // STREAMING flagship: the cell-join + native-PIP tile assignment run as
    // a Structured Streaming query (stream-static broadcast join + tumbling
    // window counts, memory sink) — gated by the same closed-form diamond
    // oracle as the batch flagship, per 5-minute bucket
    "q_zone_windows_stream" -> Q(
      (s, d) => graft.streaming.EventStream
        .runZoneWindowsOnce(s, d, SynthGeo.zones, pipGrid)
        .orderBy("bucket", "zone_id"),
      Some(s"""WITH pts AS (SELECT event_id AS id,
                ((event_id*7919)%10000)/100.0 AS x,
                ((event_id*104729)%10000)/100.0 AS y, ts FROM events)
              SELECT epoch_us(p.ts)//300000000 AS bucket,
                CAST(z.zone_id AS BIGINT) AS zone_id, count(*) AS n
              FROM pts p JOIN $zonesValues
                ON abs(p.x - z.cx) + abs(p.y - z.cy) < z.r
              GROUP BY 1, 2 ORDER BY bucket, zone_id""")),

    // tumbling-window event aggregation (batch form of the streaming op)
    "q_event_windows" -> Q(
      (s, d) => t(s, d, "events")
        // ts is TIMESTAMP_NTZ in the parquet; treat as UTC instant
        .groupBy(expr("unix_micros(cast(ts as timestamp)) div 300000000").as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("bucket", "event_type"),
      Some("""SELECT epoch_us(ts)//300000000 AS bucket, event_type,
              count(*) AS n, round(sum(value), 2) AS sum_value
              FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""")),

    // burst detection (Temporal.bursts): a 5-min event window bursts
    // when its count beats 1.5x the mean of its key's 3 previous
    // non-empty windows — integer cross-multiplied (n*3*2 > trail*3),
    // so both engines decide identically. One count exchange + one
    // per-key lag-frame window.
    "q_burst" -> Q(
      (s, d) => graft.ops.Temporal.bursts(
          t(s, d, "events"), "event_type",
          expr("unix_micros(cast(ts as timestamp)) div 300000000"),
          baseline = 3, num = 3L, den = 2L)
        .orderBy("event_type", "win"),
      Some("""WITH c AS (SELECT event_type, epoch_us(ts)//300000000 AS win,
                  count(*) AS n
                FROM events GROUP BY 1, 2)
              SELECT event_type, win, n,
                coalesce(sum(n) OVER t, 0) AS trail,
                count(n) OVER t AS trail_w,
                count(n) OVER t = 3 AND
                  n*3*2 > coalesce(sum(n) OVER t, 0)*3 AS burst
              FROM c
              WINDOW t AS (PARTITION BY event_type ORDER BY win
                           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
              ORDER BY event_type, win""")),

    // ================= temporal join family (ops.Temporal) ==============
    // as-of join: "which crawl revision was live at time t" over the
    // input_hint's (url, warc_ts) history — the temporal twin of
    // cbcn.get_address's nearest-neighbor. Union + one exchange on url +
    // per-key window carry-forward; NO inequality join, NO per-probe scan
    // of the history. Probes at doc_id%5 half-day offsets exercise the
    // before-first-snapshot NULL case (%5==0), the exact-timestamp
    // inclusive bound (+1s), and multi-revision picks.
    "q_asof_join" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val url = concat(lit("https://synth.example/doc/"), col("doc_id"))
        val snaps = docs
          .select(col("doc_id"), explode(sequence(lit(0L), col("doc_id") % 3)).as("k"))
          .select(url.as("url"),
            (lit(1704067200L) + col("k") * 86400L).as("ts_s"),
            concat(lit("rev"), col("k")).as("rev"))
        val probes = docs.select(url.as("url"),
          (lit(1704067200L) + (col("doc_id") % 5 - 1) * 43200L + 1L).as("q_ts"))
        // left-outer NULLs → sentinels: the compare harness hashes
        // NaN != NaN, so unmatched probes carry ('none', 0) in both engines
        graft.ops.Temporal.asofJoin(probes, snaps, "url", "q_ts", "ts_s", Seq("rev"))
          .select(col("url"), col("q_ts"),
            coalesce(col("rev"), lit("none")).as("asof_rev"),
            coalesce(col("asof_ts"), lit(0L)).as("asof_ts"))
          .orderBy("url")
      },
      Some("""WITH s AS (SELECT doc_id, unnest(range(doc_id % 3 + 1)) AS k FROM documents),
              snaps AS (SELECT 'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
                1704067200 + k*86400 AS ts_s, 'rev' || CAST(k AS VARCHAR) AS rev FROM s),
              probes AS (SELECT 'https://synth.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
                1704067200 + (doc_id % 5 - 1)*43200 + 1 AS q_ts FROM documents)
              SELECT p.url, p.q_ts,
                COALESCE(arg_max(sn.rev, sn.ts_s), 'none') AS asof_rev,
                COALESCE(max(sn.ts_s), 0) AS asof_ts
              FROM probes p LEFT JOIN snaps sn
                ON sn.url = p.url AND sn.ts_s <= p.q_ts
              GROUP BY p.url, p.q_ts ORDER BY p.url""")),

    // range (interval) join via temporal tiling: events against synthetic
    // availability windows. Intervals explode onto ≤2 coarse 4h buckets
    // (max duration 3.5h), points map to exactly one bucket → equi-join
    // on bucket + in-condition refinement, every pair met exactly once
    // (no distinct). The 1-D twin of the covering-cell PIP join; DuckDB's
    // oracle is the bare inequality join the tiled plan replaces.
    "q_range_join" -> Q(
      (s, d) => {
        val iv = t(s, d, "documents").select(
            col("doc_id").as("interval_id"),
            (lit(1704067200L) + (col("doc_id") % 96) * 900L).as("start_s"),
            (lit(1704067200L) + (col("doc_id") % 96) * 900L
              + (lit(1L) + col("doc_id") % 7) * 1800L).as("end_s"))
        // ×7919 (coprime with 97200) spreads the dense event_id range over
        // the whole 27h window so every interval offset sees points
        val pts = t(s, d, "events").select(col("event_id"),
          (lit(1704067200L) + (col("event_id") * 7919L) % 97200L).as("ts_p"))
        graft.ops.Temporal.rangeJoin(pts, "ts_p", iv, "start_s", "end_s", 14400L)
          .groupBy("interval_id")
          .agg(count(lit(1)).as("n_points"),
            min("ts_p").as("first_ts"), max("ts_p").as("last_ts"))
          .orderBy("interval_id")
      },
      Some("""WITH iv AS (SELECT doc_id AS interval_id,
                1704067200 + (doc_id % 96)*900 AS start_s,
                1704067200 + (doc_id % 96)*900 + (1 + doc_id % 7)*1800 AS end_s
                FROM documents),
              pts AS (SELECT event_id, 1704067200 + (event_id * 7919) % 97200 AS ts_p FROM events)
              SELECT iv.interval_id, count(*) AS n_points,
                min(pts.ts_p) AS first_ts, max(pts.ts_p) AS last_ts
              FROM iv JOIN pts ON pts.ts_p >= iv.start_s AND pts.ts_p < iv.end_s
              GROUP BY 1 ORDER BY interval_id""")),

    // gap-based sessionization of the event stream (30-min inactivity
    // boundary): one exchange on user_id, lag + running-sum windows over
    // one shared per-key sort, then a map-side-combinable rollup per
    // session — per-user cost is that user's own event count at any
    // corpus size.
    "q_sessionize" -> Q(
      (s, d) => {
        val e = t(s, d, "events").select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp)) div 1000000").as("ts_s"))
        graft.ops.Temporal.sessionize(e, "user_id", "ts_s", "event_id", 1800L)
          .groupBy("user_id", "session_no")
          .agg(min("ts_s").as("session_start"), max("ts_s").as("session_end"),
            count(lit(1)).as("n_events"))
          .orderBy("user_id", "session_no")
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts)//1000000 AS ts_s FROM events),
              g AS (SELECT user_id, event_id, ts_s,
                CASE WHEN lag(ts_s) OVER w IS NULL OR ts_s - lag(ts_s) OVER w > 1800
                  THEN 1 ELSE 0 END AS brk
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
              sn AS (SELECT user_id, ts_s,
                CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM g)
              SELECT user_id, session_no, min(ts_s) AS session_start,
                max(ts_s) AS session_end, count(*) AS n_events
              FROM sn GROUP BY 1, 2 ORDER BY user_id, session_no""")),

    // STREAMING gap sessions: Spark's native session_window aggregation
    // (state-store window merge, append-mode emission when the watermark
    // passes a session's end — the harness advances the watermark with a
    // sentinel event exactly as a live stream's late-data horizon would).
    // Oracle = the batch sessionize gap rule; stream must equal batch.
    "q_session_stream" -> Q(
      (s, d) => graft.streaming.EventStream.runSessionWindowsOnce(s, d, 1800L)
        .orderBy("user_id", "session_start"),
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts)//1000000 AS ts_s FROM events),
              g AS (SELECT user_id, event_id, ts_s,
                CASE WHEN lag(ts_s) OVER w IS NULL OR ts_s - lag(ts_s) OVER w > 1800
                  THEN 1 ELSE 0 END AS brk
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
              sn AS (SELECT user_id, ts_s,
                CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM g)
              SELECT user_id, min(ts_s) AS session_start,
                max(ts_s) AS session_end, count(*) AS n_events
              FROM sn GROUP BY user_id, session_no
              ORDER BY user_id, session_start""")),

    // STREAM-STREAM event-time interval join (attribution: impression ×
    // click within a 10-minute horizon). Both sides watermarked; the range
    // bound in the JOIN CONDITION is what lets Spark evict each side's
    // state at the other's watermark — join state ∝ the delay horizon,
    // never stream history. Oracle = the identical batch interval join.
    "q_stream_join" -> Q(
      (s, d) => graft.streaming.EventStream.runIntervalJoinOnce(s, d, 600L)
        .orderBy("imp_id", "clk_id"),
      Some("""SELECT i.event_id AS imp_id, c.event_id AS clk_id,
                i.event_type, epoch_us(c.ts) - epoch_us(i.ts) AS delay_us
              FROM events i JOIN events c ON i.event_type = c.event_type
                AND i.event_id % 2 = 0 AND c.event_id % 2 = 1
                AND c.ts > i.ts AND c.ts <= i.ts + INTERVAL 600 seconds
              ORDER BY imp_id, clk_id""")),

    // LEFT OUTER stream-stream interval join: unmatched impressions emit
    // (-1, -1) — and only when the global watermark passes their horizon
    // (driven end-to-end by per-input far-future sentinels, the same
    // late-data mechanism a live stream relies on). Oracle = the batch
    // left interval join.
    "q_stream_join_outer" -> Q(
      (s, d) => graft.streaming.EventStream.runIntervalJoinOuterOnce(s, d, 600L)
        .orderBy("imp_id", "clk_id"),
      Some("""SELECT i.event_id AS imp_id, coalesce(c.event_id, -1) AS clk_id,
                i.event_type,
                coalesce(epoch_us(c.ts) - epoch_us(i.ts), -1) AS delay_us
              FROM (SELECT * FROM events WHERE event_id % 2 = 0) i
              LEFT JOIN (SELECT * FROM events WHERE event_id % 2 = 1) c
                ON i.event_type = c.event_type
                AND c.ts > i.ts AND c.ts <= i.ts + INTERVAL 600 seconds
              ORDER BY imp_id, clk_id""")),

    // grid-bucketed DBSCAN over md5-synthesized page geotags: candidate
    // pairs from ONE ε-cell equi-join (forward-half literal-offset explode
    // on the probe side — each unordered pair exactly once, mirrored after
    // the join), map-side-combined
    // degree agg, alternating-star components over CORE points only, border =
    // min core-neighbor label (deterministic refinement of the textbook's
    // scan-order rule). Oracle replays the same ε-graph + recursive
    // min-label closure in DuckDB.
    "q_dbscan" -> Q(
      (s, d) => {
        val id = col("event_id")
        val pts = tSp(s, d, "events").select(id.as("id"),
          (graft.text.TextFns.hash48(concat(lit("x:"), id.cast("string")))
            % 10000 / lit(100.0)).as("x"),
          (graft.text.TextFns.hash48(concat(lit("y:"), id.cast("string")))
            % 10000 / lit(100.0)).as("y"))
        graft.spatial.Dbscan.dbscan(pts, eps = 0.7, minPts = 4)
          .orderBy("id")
      },
      Some("""WITH RECURSIVE pts AS MATERIALIZED (SELECT event_id AS id,
                (('0x' || substr(md5('x:' || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT % 10000)/100.0 AS x,
                (('0x' || substr(md5('y:' || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT % 10000)/100.0 AS y
                FROM events),
              cel AS MATERIALIZED (SELECT id, x, y,
                cast(floor(x/0.7) AS BIGINT) cx, cast(floor(y/0.7) AS BIGINT) cy FROM pts),
              prs AS MATERIALIZED (SELECT a.id ia, b.id ib FROM cel a JOIN cel b
                ON b.cx BETWEEN a.cx-1 AND a.cx+1 AND b.cy BETWEEN a.cy-1 AND a.cy+1
                AND a.id <> b.id
                AND (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= 0.7*0.7),
              deg AS MATERIALIZED (SELECT ia AS id, count(*) AS nn FROM prs GROUP BY ia),
              core AS MATERIALIZED (SELECT p.id FROM pts p LEFT JOIN deg d ON p.id = d.id
                WHERE coalesce(d.nn, 0) + 1 >= 4),
              ce AS MATERIALIZED (SELECT ia, ib FROM prs
                WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)),
              r AS (SELECT id, id AS m FROM core
                UNION SELECT ce.ia, r.m FROM ce JOIN r ON r.id = ce.ib),
              lab AS MATERIALIZED (SELECT id, min(m) AS cluster FROM r GROUP BY id),
              brd AS MATERIALIZED (SELECT p.ia AS id, min(l.cluster) AS cluster
                FROM prs p JOIN lab l ON p.ib = l.id
                WHERE p.ia NOT IN (SELECT id FROM core) GROUP BY p.ia)
              SELECT id, 'core' AS role, cluster FROM lab
              UNION ALL SELECT id, 'border' AS role, cluster FROM brd
              UNION ALL SELECT id, 'noise' AS role, CAST(-1 AS BIGINT) AS cluster FROM pts
                WHERE id NOT IN (SELECT id FROM lab) AND id NOT IN (SELECT id FROM brd)
              ORDER BY id""")),

    // dense-cell contraction DBSCAN (Gan-Tao grid observation): cells of
    // side eps/1.5 with >= minPts points are all-core supernodes — no
    // intra-cell pair volume, degree agg over sparse probes only, component
    // graph one vertex per dense cell. EXACT rewrite: gated on the SAME
    // recursive min-label oracle as q_dbscan, same input. r06: a
    // cost-model dispatch (candidate-pair volume from cell occupancy, no
    // tuned constants) picks between the contraction and the plain ε-grid
    // plan — both exact, result identical either way.
    "q_dbscan_dense" -> Q(
      (s, d) => {
        val id = col("event_id")
        val pts = tSp(s, d, "events").select(id.as("id"),
          (graft.text.TextFns.hash48(concat(lit("x:"), id.cast("string")))
            % 10000 / lit(100.0)).as("x"),
          (graft.text.TextFns.hash48(concat(lit("y:"), id.cast("string")))
            % 10000 / lit(100.0)).as("y"))
        graft.spatial.Dbscan.dbscanDense(pts, eps = 0.7, minPts = 4)
          .orderBy("id")
      },
      Some("""WITH RECURSIVE pts AS MATERIALIZED (SELECT event_id AS id,
                (('0x' || substr(md5('x:' || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT % 10000)/100.0 AS x,
                (('0x' || substr(md5('y:' || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT % 10000)/100.0 AS y
                FROM events),
              cel AS MATERIALIZED (SELECT id, x, y,
                cast(floor(x/0.7) AS BIGINT) cx, cast(floor(y/0.7) AS BIGINT) cy FROM pts),
              prs AS MATERIALIZED (SELECT a.id ia, b.id ib FROM cel a JOIN cel b
                ON b.cx BETWEEN a.cx-1 AND a.cx+1 AND b.cy BETWEEN a.cy-1 AND a.cy+1
                AND a.id <> b.id
                AND (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= 0.7*0.7),
              deg AS MATERIALIZED (SELECT ia AS id, count(*) AS nn FROM prs GROUP BY ia),
              core AS MATERIALIZED (SELECT p.id FROM pts p LEFT JOIN deg d ON p.id = d.id
                WHERE coalesce(d.nn, 0) + 1 >= 4),
              ce AS MATERIALIZED (SELECT ia, ib FROM prs
                WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)),
              r AS (SELECT id, id AS m FROM core
                UNION SELECT ce.ia, r.m FROM ce JOIN r ON r.id = ce.ib),
              lab AS MATERIALIZED (SELECT id, min(m) AS cluster FROM r GROUP BY id),
              brd AS MATERIALIZED (SELECT p.ia AS id, min(l.cluster) AS cluster
                FROM prs p JOIN lab l ON p.ib = l.id
                WHERE p.ia NOT IN (SELECT id FROM core) GROUP BY p.ia)
              SELECT id, 'core' AS role, cluster FROM lab
              UNION ALL SELECT id, 'border' AS role, cluster FROM brd
              UNION ALL SELECT id, 'noise' AS role, CAST(-1 AS BIGINT) AS cluster FROM pts
                WHERE id NOT IN (SELECT id FROM lab) AND id NOT IN (SELECT id FROM brd)
              ORDER BY id""")),

    // Getis-Ord Gi* hotspot z-scores over 5-unit cell counts of the same
    // md5-synthesized geotags (occupied-cell frame, 3x3 binary weights
    // incl. self). One corpus-sized count shuffle; everything after is
    // cell-cardinality work from exact integer aggregates. Oracle replays
    // the identical donate-to-9-neighbors rollup + z-score arithmetic.
    "q_hotspot" -> Q(
      (s, d) => {
        val id = col("event_id")
        val cells = t(s, d, "events").select(
          floor(graft.text.TextFns.hash48(concat(lit("x:"), id.cast("string")))
            % 10000 / lit(100.0) / lit(5.0)).cast("long").as("cx"),
          floor(graft.text.TextFns.hash48(concat(lit("y:"), id.cast("string")))
            % 10000 / lit(100.0) / lit(5.0)).cast("long").as("cy"))
        graft.spatial.Hotspot.giStar(cells).orderBy("cx", "cy")
      },
      Some("""WITH cnt AS MATERIALIZED (SELECT
                cast(floor((('0x' || substr(md5('x:' || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT % 10000)/100.0/5.0) AS BIGINT) AS cx,
                cast(floor((('0x' || substr(md5('y:' || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT % 10000)/100.0/5.0) AS BIGINT) AS cy,
                count(*) AS n
                FROM events GROUP BY 1, 2),
              g AS MATERIALIZED (SELECT CAST(sum(n) AS DOUBLE)/count(*) AS mu,
                sqrt(CAST(sum(n*n) AS DOUBLE)/count(*)
                  - (CAST(sum(n) AS DOUBLE)/count(*))*(CAST(sum(n) AS DOUBLE)/count(*))) AS s,
                count(*) AS nc FROM cnt),
              o(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)),
              w AS MATERIALIZED (SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy,
                sum(c.n) AS wsum, count(*) AS k
                FROM cnt c CROSS JOIN o GROUP BY 1, 2)
              SELECT c.cx, c.cy, c.n, w.k, w.wsum,
                round((w.wsum - g.mu * w.k) /
                  (g.s * sqrt((g.nc * w.k - w.k * w.k) / (g.nc - 1.0))), 6) AS gi
              FROM cnt c JOIN w ON c.cx = w.cx AND c.cy = w.cy CROSS JOIN g
              ORDER BY 1, 2""")),

    // global Moran's I over the same cell frame (binary queen weights,
    // self excluded): the fp-unstable pair cross-product is expanded so
    // every aggregate is an exact integer and the fp math is ONE closed
    // form — partitioning-stable by construction. Oracle replays the
    // expansion.
    "q_moran" -> Q(
      (s, d) => {
        val id = col("event_id")
        val cells = t(s, d, "events").select(
          floor(graft.text.TextFns.hash48(concat(lit("x:"), id.cast("string")))
            % 10000 / lit(100.0) / lit(5.0)).cast("long").as("cx"),
          floor(graft.text.TextFns.hash48(concat(lit("y:"), id.cast("string")))
            % 10000 / lit(100.0) / lit(5.0)).cast("long").as("cy"))
        graft.spatial.Hotspot.moranI(cells)
      },
      Some("""WITH cnt AS MATERIALIZED (SELECT
                cast(floor((('0x' || substr(md5('x:' || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT % 10000)/100.0/5.0) AS BIGINT) AS cx,
                cast(floor((('0x' || substr(md5('y:' || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT % 10000)/100.0/5.0) AS BIGINT) AS cy,
                count(*) AS n
                FROM events GROUP BY 1, 2),
              o(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)),
              pr AS MATERIALIZED (SELECT sum(a.n * b.n) AS p,
                sum(a.n + b.n) AS sp, count(*) AS w
                FROM cnt a CROSS JOIN o
                JOIN cnt b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy),
              g AS MATERIALIZED (SELECT sum(n) AS t, count(*) AS nc,
                sum(n*n) AS q FROM cnt)
              SELECT g.nc, pr.w AS w_pairs,
                round((g.nc / (pr.w * 1.0)) *
                  (pr.p - (CAST(g.t AS DOUBLE)/g.nc) * pr.sp
                    + (CAST(g.t AS DOUBLE)/g.nc) * (CAST(g.t AS DOUBLE)/g.nc) * pr.w) /
                  (g.q - 2.0 * (CAST(g.t AS DOUBLE)/g.nc) * g.t
                    + g.nc * (CAST(g.t AS DOUBLE)/g.nc) * (CAST(g.t AS DOUBLE)/g.nc)), 6)
                  AS moran_i
              FROM pr CROSS JOIN g""")),

    // LISA local Moran's I per cell (Anselin quadrants): neighbor sums are
    // the 8-offset donate join; quadrant signs are integer-exact
    // (sign(n*nc - T), sign(wsum*nc - k*T)) so HH/LL/HL/LH/NS labels can't
    // fp-diverge between engines. Oracle replays the expansion.
    "q_lisa" -> Q(
      (s, d) => {
        val id = col("event_id")
        val cells = t(s, d, "events").select(
          floor(graft.text.TextFns.hash48(concat(lit("x:"), id.cast("string")))
            % 10000 / lit(100.0) / lit(5.0)).cast("long").as("cx"),
          floor(graft.text.TextFns.hash48(concat(lit("y:"), id.cast("string")))
            % 10000 / lit(100.0) / lit(5.0)).cast("long").as("cy"))
        graft.spatial.Hotspot.lisa(cells).orderBy("cx", "cy")
      },
      Some("""WITH cnt AS MATERIALIZED (SELECT
                cast(floor((('0x' || substr(md5('x:' || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT % 10000)/100.0/5.0) AS BIGINT) AS cx,
                cast(floor((('0x' || substr(md5('y:' || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT % 10000)/100.0/5.0) AS BIGINT) AS cy,
                count(*) AS n
                FROM events GROUP BY 1, 2),
              o(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)),
              w AS MATERIALIZED (SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy,
                sum(c.n) AS wsum, count(*) AS k
                FROM cnt c CROSS JOIN o GROUP BY 1, 2),
              g AS MATERIALIZED (SELECT sum(n) AS t, count(*) AS nc,
                sum(n*n) AS q FROM cnt)
              SELECT c.cx, c.cy, c.n,
                coalesce(w.k, 0) AS k, coalesce(w.wsum, 0) AS wsum,
                round((c.n - CAST(g.t AS DOUBLE)/g.nc)
                  * (coalesce(w.wsum, 0) - coalesce(w.k, 0) * (CAST(g.t AS DOUBLE)/g.nc))
                  / ((g.q - 2.0 * (CAST(g.t AS DOUBLE)/g.nc) * g.t
                      + g.nc * (CAST(g.t AS DOUBLE)/g.nc) * (CAST(g.t AS DOUBLE)/g.nc)) / g.nc),
                  6) AS lisa,
                CASE WHEN c.n * g.nc - g.t > 0 AND coalesce(w.wsum, 0) * g.nc - coalesce(w.k, 0) * g.t > 0 THEN 'HH'
                     WHEN c.n * g.nc - g.t < 0 AND coalesce(w.wsum, 0) * g.nc - coalesce(w.k, 0) * g.t < 0 THEN 'LL'
                     WHEN c.n * g.nc - g.t > 0 AND coalesce(w.wsum, 0) * g.nc - coalesce(w.k, 0) * g.t < 0 THEN 'HL'
                     WHEN c.n * g.nc - g.t < 0 AND coalesce(w.wsum, 0) * g.nc - coalesce(w.k, 0) * g.t > 0 THEN 'LH'
                     ELSE 'NS' END AS quad
              FROM cnt c LEFT JOIN w ON c.cx = w.cx AND c.cy = w.cy
              CROSS JOIN g ORDER BY 1, 2""")),

    // Ripley's K/L point-pattern functions over the md5-synthesized
    // geotags: one r_max-cell candidate join feeds the whole radius ladder
    // (per-radius counts are conditional sums in a single aggregate).
    // Exact integer pair counts; K/L normalization replayed closed-form.
    "q_ripley" -> Q(
      (s, d) => {
        val id = col("event_id")
        val pts = tSp(s, d, "events").select(id.as("id"),
          (graft.text.TextFns.hash48(concat(lit("x:"), id.cast("string")))
            % 10000 / lit(100.0)).as("x"),
          (graft.text.TextFns.hash48(concat(lit("y:"), id.cast("string")))
            % 10000 / lit(100.0)).as("y"))
        graft.spatial.PointPattern.ripleyK(pts, Seq(0.5, 1.0, 2.0),
          area = 10000.0).orderBy("r")
      },
      Some("""WITH pts AS MATERIALIZED (SELECT event_id AS id,
                (('0x' || substr(md5('x:' || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT % 10000)/100.0 AS x,
                (('0x' || substr(md5('y:' || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT % 10000)/100.0 AS y
                FROM events),
              cel AS MATERIALIZED (SELECT id, x, y,
                cast(floor(x/2.0) AS BIGINT) cx, cast(floor(y/2.0) AS BIGINT) cy FROM pts),
              c AS MATERIALIZED (SELECT
                CAST(sum(CASE WHEN (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
                CAST(sum(CASE WHEN (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                CAST(sum(CASE WHEN (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= 4.0 THEN 1 ELSE 0 END) AS BIGINT) AS c2
                FROM cel a JOIN cel b
                ON b.cx BETWEEN a.cx-1 AND a.cx+1 AND b.cy BETWEEN a.cy-1 AND a.cy+1
                AND a.id <> b.id),
              g AS (SELECT count(*) AS n FROM pts),
              v AS (SELECT CAST(0.5 AS DOUBLE) AS r, c0 AS pairs FROM c
                UNION ALL SELECT CAST(1.0 AS DOUBLE), c1 FROM c
                UNION ALL SELECT CAST(2.0 AS DOUBLE), c2 FROM c)
              SELECT v.r, v.pairs, g.n,
                round(10000.0 * v.pairs / (g.n * (g.n - 1.0)), 6) AS k,
                round(sqrt((10000.0 * v.pairs / (g.n * (g.n - 1.0))) / pi()), 6) AS l
              FROM v CROSS JOIN g ORDER BY r""")),

    // exact duplicate-span detection (Lee et al. 2022 substring dedup as a
    // k-gram frequency join): positions covered by a k-gram occurring >= 2x
    // in the corpus, merged into maximal per-doc spans. Oracle rebuilds the
    // gram stream with DuckDB list comprehension + the md5-48 gram hash and
    // replays the gaps-and-islands merge.
    "q_dup_spans" -> Q(
      (s, d) => graft.dedup.SpanDedup.dupSpans(t(s, d, "documents"), k = 8)
        .orderBy("doc_id", "span_start"),
      Some("""WITH toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              g AS MATERIALIZED (SELECT doc_id, unnest([struct_pack(pos := i,
                  h := ('0x' || substr(md5(array_to_string(w[i+1:i+8], ' ')), 1, 12))::BIGINT)
                  for i in range(len(w) - 7)]) AS s FROM toks),
              gp AS MATERIALIZED (SELECT doc_id, s.pos AS pos, s.h AS h FROM g),
              dup AS MATERIALIZED (SELECT h FROM gp GROUP BY h HAVING count(*) >= 2),
              m AS MATERIALIZED (SELECT doc_id, pos FROM gp WHERE h IN (SELECT h FROM dup)),
              brk AS MATERIALIZED (SELECT doc_id, pos,
                CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
                  THEN 0 ELSE 1 END AS b FROM m),
              isl AS MATERIALIZED (SELECT doc_id, pos,
                sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
                FROM brk)
              SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
                max(pos) + 7 - min(pos) + 1 AS n_tokens
              FROM isl GROUP BY doc_id, g ORDER BY doc_id, span_start""")),

    // per-document duplication profile (span count / removable token mass /
    // longest span) — the corpus-health rollup over the same span stream
    "q_dup_profile" -> Q(
      (s, d) => graft.dedup.SpanDedup.dupProfile(t(s, d, "documents"), k = 8)
        .orderBy("doc_id"),
      Some("""WITH toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              g AS MATERIALIZED (SELECT doc_id, unnest([struct_pack(pos := i,
                  h := ('0x' || substr(md5(array_to_string(w[i+1:i+8], ' ')), 1, 12))::BIGINT)
                  for i in range(len(w) - 7)]) AS s FROM toks),
              gp AS MATERIALIZED (SELECT doc_id, s.pos AS pos, s.h AS h FROM g),
              dup AS MATERIALIZED (SELECT h FROM gp GROUP BY h HAVING count(*) >= 2),
              m AS MATERIALIZED (SELECT doc_id, pos FROM gp WHERE h IN (SELECT h FROM dup)),
              brk AS MATERIALIZED (SELECT doc_id, pos,
                CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
                  THEN 0 ELSE 1 END AS b FROM m),
              isl AS MATERIALIZED (SELECT doc_id, pos,
                sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
                FROM brk),
              sp AS MATERIALIZED (SELECT doc_id,
                max(pos) + 7 - min(pos) + 1 AS n_tokens
                FROM isl GROUP BY doc_id, g)
              SELECT doc_id, count(*) AS n_spans, sum(n_tokens) AS dup_tokens,
                max(n_tokens) AS longest_span
              FROM sp GROUP BY doc_id ORDER BY doc_id""")),

    // first-order Markov transition matrix over per-user event streams
    // (Temporal.transitionMatrix): lead over the sessionize exchange/sort,
    // then a |states|²-bounded rollup (sketch-sized wire). Oracle = the
    // identical lead + count + ratio replay.
    "q_transitions" -> Q(
      (s, d) => {
        val e = t(s, d, "events").select(col("user_id"), col("event_id"),
          col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 1000000").as("ts_s"))
        graft.ops.Temporal.transitionMatrix(
            e, "user_id", "ts_s", "event_id", "event_type")
          .orderBy("from_state", "to_state")
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
                epoch_us(ts)//1000000 AS ts_s FROM events),
              g AS (SELECT event_type AS from_state,
                      lead(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts_s, event_id) AS to_state
                    FROM e),
              c AS (SELECT from_state, to_state, count(*) AS n FROM g
                    WHERE to_state IS NOT NULL GROUP BY 1, 2)
              SELECT from_state, to_state, n,
                round(n*1.0 / sum(n) OVER (PARTITION BY from_state), 6) AS p
              FROM c ORDER BY from_state, to_state""")),

    // host-template boilerplate removal (Boilerplate.stripHostBoilerplate):
    // a planted nav paragraph on 100% of each host's pages is stripped,
    // a promo planted on ~40% stays (0.5 threshold), body lines untouched.
    // The oracle replays the page-fraction rule + ordered reassembly.
    "q_boilerplate" -> Q(
      (s, d) => {
        val host = concat(lit("h"), col("doc_id") % 16)
        val nav = concat(lit("nav "), host, lit(" menu about contact"))
        val promo = concat(lit("promo "), host, lit(" subscribe banner"))
        val paras = concat(
          array(nav),
          when(col("doc_id") % 5 < 2, array(promo))
            .otherwise(array().cast("array<string>")),
          TextFns.fixedLines(col("text"), 5))
        val pages = t(s, d, "documents")
          .select(col("doc_id"), host.as("host"), paras.as("paras"))
        graft.text.Boilerplate
          .stripHostBoilerplate(pages, "doc_id", "host", "paras")
          .select(col("doc_id"), col("host"),
            array_join(col("paras_clean"), "\n").as("text_clean"),
            col("n_stripped"))
          .orderBy("doc_id")
      },
      Some("""WITH dd AS (SELECT doc_id, 'h' || CAST(doc_id % 16 AS VARCHAR) AS host,
                text FROM documents),
              w AS (SELECT doc_id, host,
                      list_filter(string_split(text, ' '), x -> x <> '') AS w
                    FROM dd),
              body AS (SELECT doc_id, host,
                         list_transform(range(0, len(w)//5),
                           i -> array_to_string(list_slice(w, i*5+1, i*5+5), ' ')) AS ls
                       FROM w),
              paras AS (SELECT doc_id, host,
                  list_concat(list_concat(
                    ['nav ' || host || ' menu about contact'],
                    CASE WHEN doc_id % 5 < 2
                      THEN ['promo ' || host || ' subscribe banner']
                      ELSE [] END), ls) AS ps
                FROM body),
              x AS (SELECT doc_id, host, unnest(ps) AS para,
                      generate_subscripts(ps, 1) AS pos FROM paras),
              hp AS (SELECT host, count(*) AS n_pages FROM dd GROUP BY 1),
              fr AS (SELECT host, para, count(DISTINCT doc_id) AS n_with
                     FROM x GROUP BY 1, 2),
              bo AS (SELECT fr.host, fr.para FROM fr JOIN hp USING (host)
                     WHERE n_with >= 2 AND n_with >= 0.5 * n_pages),
              kept AS (SELECT x.doc_id, x.para, x.pos FROM x
                       LEFT JOIN bo ON bo.host = x.host AND bo.para = x.para
                       WHERE bo.para IS NULL),
              kg AS (SELECT doc_id, array_to_string(list(para ORDER BY pos), chr(10)) AS tc,
                       count(*) AS n_kept
                     FROM kept GROUP BY doc_id)
              SELECT p.doc_id, p.host,
                coalesce(kg.tc, '') AS text_clean,
                CAST(len(p.ps) - coalesce(kg.n_kept, 0) AS BIGINT) AS n_stripped
              FROM paras p LEFT JOIN kg ON kg.doc_id = p.doc_id
              ORDER BY p.doc_id""")),

    // CCNet tercile bucketing (LangModel.ccnetBuckets): per-LANGUAGE bigram
    // LM on the 10% trusted slice, head/middle/tail cut at the data-derived
    // per-language perplexity terciles (Wenzek et al. §4.3) — the
    // fixed-threshold q_lm_ppl's production-shaped sibling. The oracle
    // replays the per-lang LM, the integer micro-nat sum, and the
    // multiply-only exact-quantile cutoff rule.
    "q_ccnet_bucket" -> Q(
      (s, d) => graft.text.LangModel.ccnetBuckets(
          tSp(s, d, "documents"), "doc_id", "text", "lang",
          col("doc_id") % 10 === 0)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, lang, doc_id % 10 = 0 AS is_ref,
                           string_split(text,' ') AS w FROM documents),
              x AS (SELECT doc_id, lang, is_ref, w[i] AS w1, w[i+1] AS w2
                    FROM (SELECT doc_id, lang, is_ref, w,
                            unnest(range(1, greatest(len(w),2))) AS i FROM t)),
              c1 AS (SELECT lang, w1, count(*) AS c1 FROM x WHERE is_ref GROUP BY 1,2),
              c2 AS (SELECT lang, w1, w2, count(*) AS c2 FROM x WHERE is_ref GROUP BY 1,2,3),
              v AS (SELECT lang, count(DISTINCT w1) AS v FROM x WHERE is_ref GROUP BY 1),
              s AS (SELECT m.doc_id, m.lang, CAST(sum(m.m) AS BIGINT) AS n_bigrams,
                      CAST(sum(m.m * CAST(round(-ln((coalesce(c2.c2,0)+1.0)/(coalesce(c1.c1,0)+v.v))*1e6) AS BIGINT)) AS BIGINT) AS cost_unats
                    FROM (SELECT doc_id, lang, w1, w2, count(*) AS m FROM x GROUP BY 1,2,3,4) m
                    JOIN v ON m.lang = v.lang
                    LEFT JOIN c1 ON m.lang = c1.lang AND m.w1 = c1.w1
                    LEFT JOIN c2 ON m.lang = c2.lang AND m.w1 = c2.w1 AND m.w2 = c2.w2
                    GROUP BY 1,2),
              a AS (SELECT *, cost_unats / n_bigrams AS avg_unats FROM s),
              h AS (SELECT lang, avg_unats AS vv, count(*) AS c FROM a GROUP BY 1,2),
              cum AS (SELECT lang, vv, c,
                        sum(c) OVER (PARTITION BY lang ORDER BY vv ROWS UNBOUNDED PRECEDING) AS cum,
                        sum(c) OVER (PARTITION BY lang) AS n
                      FROM h),
              cuts AS (SELECT lang,
                         min(CASE WHEN cum*1000 >= 333*n THEN vv END) AS q333,
                         min(CASE WHEN cum*1000 >= 667*n THEN vv END) AS q667
                       FROM cum GROUP BY 1)
              SELECT a.doc_id, a.lang, a.n_bigrams, a.cost_unats,
                CASE WHEN avg_unats <= q333 THEN 'head'
                     WHEN avg_unats <= q667 THEN 'middle'
                     ELSE 'tail' END AS bucket
              FROM a JOIN cuts ON a.lang = cuts.lang ORDER BY a.doc_id""")),

    // perceptual-hash image near-dup (Media.phashNearDups): planted
    // re-hosted image groups (md5-chained 8x9 luminance grids, <= 1 pixel
    // of re-encode noise per doc) -> 64-bit dHash -> generic
    // combination-block Hamming machinery. The oracle recomputes every
    // grid, hash half, and brute-force pair from the same md5 chain.
    "q_phash_dedup" -> Q(
      (s, d) => graft.multimodal.Media.phashNearDups(
          graft.multimodal.Media.synthPixels(s, d), maxDist = 4)
        .orderBy("id_a", "id_b"),
      Some("""WITH g AS (SELECT doc_id, doc_id % 25 AS grp, doc_id % 2 AS nmut FROM documents),
              base AS (SELECT doc_id, nmut,
                  list_transform(range(0,72), p ->
                    ('0x' || substr(md5('g' || CAST(grp AS VARCHAR) || ':' || CAST(p//16 AS VARCHAR)), CAST((p%16)*2+1 AS INT), 2))::INT) AS pix0
                FROM g),
              mut AS (SELECT doc_id, CASE WHEN nmut = 1 THEN
                    list_transform(range(0,72), p -> CASE WHEN p = (doc_id*31) % 72
                      THEN ('0x' || substr(md5('m' || CAST(doc_id AS VARCHAR) || ':0'), 1, 2))::INT
                      ELSE pix0[CAST(p+1 AS INT)] END)
                  ELSE pix0 END AS pix FROM base),
              h AS (SELECT doc_id,
                  list_sum(list_transform(range(0,32), b -> CASE
                    WHEN pix[CAST((b//8)*9 + (b%8) + 1 AS INT)] < pix[CAST((b//8)*9 + (b%8) + 2 AS INT)]
                    THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END)) AS lo,
                  list_sum(list_transform(range(32,64), b -> CASE
                    WHEN pix[CAST((b//8)*9 + (b%8) + 1 AS INT)] < pix[CAST((b//8)*9 + (b%8) + 2 AS INT)]
                    THEN (CAST(1 AS BIGINT) << CAST(b-32 AS INT)) ELSE 0 END)) AS hi
                FROM mut)
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT) AS ham
              FROM h a JOIN h b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 4
              ORDER BY id_a, id_b""")),

    // crawl vocabulary drift (Drift.vocabDrift): top-20 words whose corpus
    // share moved most between the even- and odd-numbered source slices,
    // ranked by the INTEGER cross-product delta c_a*N_b - c_b*N_a (exact,
    // division-free). One word-keyed conditional-count exchange; top-k is
    // TakeOrdered over the vocab table.
    "q_vocab_drift" -> Q(
      (s, d) => graft.text.Drift.vocabDrift(
          t(s, d, "documents"), "text",
          substring(col("source"), 4, 10).cast("int") % 2 === 1, topK = 20)
        .orderBy(abs(col("delta")).desc, col("word")),
      Some("""WITH w AS (SELECT CAST(substr(source,4) AS INT) % 2 = 1 AS b,
                           unnest(list_filter(string_split(text,' '), x -> x <> '')) AS word
                         FROM documents),
              c AS (SELECT word,
                      sum(CASE WHEN NOT b THEN 1 ELSE 0 END) AS c_a,
                      sum(CASE WHEN b THEN 1 ELSE 0 END) AS c_b
                    FROM w GROUP BY 1),
              t AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM c)
              SELECT word, CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
                CAST(c_a*n_b - c_b*n_a AS BIGINT) AS delta
              FROM c CROSS JOIN t
              ORDER BY abs(c_a*n_b - c_b*n_a) DESC, word LIMIT 20""")),

    // HLL sketch algebra (Stats.hllMerge): per-slice registers over the
    // even-/odd-source key sets plus their element-wise-max MERGE — the
    // mergeability law that lets 10^12-key count-distinct build
    // shard-by-shard with no rescan. Registers are integer and md5-keyed,
    // so DuckDB replays all three columns exactly (absent register = 0).
    "q_hll_union" -> Q(
      (s, d) => {
        val keyed = t(s, d, "documents").select(
          when(substring(col("source"), 4, 10).cast("int") % 2 === 1, "B")
            .otherwise("A").as("slice"),
          concat(lit("k"), (col("doc_id") % 300).cast("string")).as("k"))
        val regs = graft.ops.Stats.hllRegisters(keyed, "slice", "k",
          bucketBits = 6)
        regs.groupBy("bucket").agg(
            coalesce(max(when(col("slice") === "A", col("r"))), lit(0L))
              .as("r_a"),
            coalesce(max(when(col("slice") === "B", col("r"))), lit(0L))
              .as("r_b"))
          .withColumn("r_union", greatest(col("r_a"), col("r_b")))
          .orderBy("bucket")
      },
      Some("""WITH r AS (SELECT
                CASE WHEN CAST(substr(source,4) AS INT) % 2 = 1 THEN 'B' ELSE 'A' END AS slice,
                ('0x' || substr(md5('k' || CAST(doc_id % 300 AS VARCHAR)), 1, 12))::BIGINT AS h
              FROM documents),
              g AS (SELECT slice, h % 64 AS bucket,
                      max(CASE WHEN h // 64 = 0 THEN 43
                               ELSE 43 - length(bin(h // 64)) END) AS r
                    FROM r GROUP BY 1, 2)
              SELECT bucket,
                CAST(coalesce(max(CASE WHEN slice = 'A' THEN r END), 0) AS BIGINT) AS r_a,
                CAST(coalesce(max(CASE WHEN slice = 'B' THEN r END), 0) AS BIGINT) AS r_b,
                CAST(greatest(coalesce(max(CASE WHEN slice = 'A' THEN r END), 0),
                              coalesce(max(CASE WHEN slice = 'B' THEN r END), 0)) AS BIGINT) AS r_union
              FROM g GROUP BY bucket ORDER BY bucket""")),

    // IDW interpolation (Interpolate.idwMilli): site measurements
    // resampled onto the event points with INTEGER-EXACT weights
    // (milli-unit coords -> exact d2 -> w = 1e12 div d2; integer weighted
    // sums, one final division). Sites are the kNN site layer in milli
    // units with a deterministic measurement v = site_id*131 % 1000.
    "q_idw" -> Q(
      (s, d) => {
        val pts = t(s, d, "events").select(
          col("event_id").as("id"),
          (col("event_id") * 7919L % 10000L * 10L).as("pxm"),
          (col("event_id") * 104729L % 10000L * 10L).as("pym"))
        val sites = s.range(20).select(
          col("id").as("site_id"),
          (col("id") * 37 % 97 * 1000L + 515L + col("id") * 13L).as("sxm"),
          (col("id") * 59 % 89 * 1000L + 525L + col("id") * 17L).as("sym"),
          (col("id") * 131 % 1000L).as("v"))
        graft.spatial.Interpolate.idwMilli(pts, sites,
          cellMilli = 20000L, radiusMilli = 20000L)
          .orderBy("id")
      },
      Some("""WITH p AS (SELECT event_id AS id,
                (event_id*7919)%10000*10 AS pxm,
                (event_id*104729)%10000*10 AS pym FROM events),
              s AS (SELECT k AS site_id,
                      (k*37%97)*1000 + 515 + 13*k AS sxm,
                      (k*59%89)*1000 + 525 + 17*k AS sym,
                      (k*131)%1000 AS v
                    FROM range(0,20) t(k)),
              c AS (SELECT p.id, s.v,
                      (p.pxm-s.sxm)*(p.pxm-s.sxm) + (p.pym-s.sym)*(p.pym-s.sym) AS d2
                    FROM p CROSS JOIN s
                    WHERE (p.pxm-s.sxm)*(p.pxm-s.sxm) + (p.pym-s.sym)*(p.pym-s.sym)
                          <= 400000000),
              w AS (SELECT id, v,
                      CASE WHEN d2 = 0 THEN 1000000000000
                           ELSE 1000000000000 // d2 END AS w FROM c)
              SELECT id, CAST(count(*) AS BIGINT) AS n_sites,
                round(sum(w*v) * 1.0 / sum(w), 6) AS idw
              FROM w GROUP BY id ORDER BY id""")),

    // retention cohorts (Temporal.retentionCohorts): users per (first-day
    // cohort, day offset) — one user-keyed min aggregate + co-partitioned
    // join + distinct-then-count rollup bounded by cohorts × max age.
    "q_retention" -> Q(
      (s, d) => {
        val e = t(s, d, "events").select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
        graft.ops.Temporal.retentionCohorts(e, "user_id", col("day"))
          .orderBy("cohort", "age")
      },
      Some("""WITH a AS (SELECT user_id AS u, epoch_us(ts)//86400000000 AS b
                FROM events),
              f AS (SELECT u, min(b) AS cohort FROM a GROUP BY u),
              dd AS (SELECT DISTINCT a.u, cohort, b - cohort AS age
                     FROM a JOIN f USING (u))
              SELECT cohort, age, count(*) AS n_users FROM dd
              GROUP BY 1, 2 ORDER BY cohort, age""")),

    // ordered 4-step funnel (Temporal.funnel): signup → view → click →
    // purchase within the first 3 days, each stage strictly after the
    // user's previous-stage entry — k user-keyed min aggregates chained by
    // co-partitioned joins, no per-user sort. The 3-day cutoff keeps real
    // drop-off in the synthetic stream (105 → 55 → 23 → 8 at sf0.01).
    "q_funnel" -> Q(
      (s, d) => {
        val e = t(s, d, "events")
          .filter(col("ts") < lit("2024-01-04 00:00:00").cast("timestamp"))
          .select(col("user_id"),
            expr("unix_micros(cast(ts as timestamp))").as("t_us"),
            col("event_type"))
        graft.ops.Temporal.funnel(e, "user_id", "t_us", "event_type",
            Seq("signup", "view", "click", "purchase"))
          .orderBy("step")
      },
      Some("""WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_type AS s
                FROM events WHERE ts < TIMESTAMP '2024-01-04 00:00:00'),
              s1 AS (SELECT u, min(t) AS t1 FROM e WHERE s = 'signup' GROUP BY u),
              s2 AS (SELECT e.u, min(t) AS t2 FROM e JOIN s1 ON s1.u = e.u
                     WHERE s = 'view' AND t > t1 GROUP BY e.u),
              s3 AS (SELECT e.u, min(t) AS t3 FROM e JOIN s2 ON s2.u = e.u
                     WHERE s = 'click' AND t > t2 GROUP BY e.u),
              s4 AS (SELECT e.u, min(t) AS t4 FROM e JOIN s3 ON s3.u = e.u
                     WHERE s = 'purchase' AND t > t3 GROUP BY e.u)
              SELECT * FROM (
                SELECT CAST(1 AS BIGINT) AS step, 'signup' AS state,
                       (SELECT count(*) FROM s1) AS n_users
                UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
                UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
                UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4))
              ORDER BY step""")))

  /** The registry. A repeated key fails here, at load: a map literal would
    * keep only its last body and silently drop the earlier one. */
  val all: Map[String, Q] = {
    val repeated = entries.groupBy(_._1).collect { case (k, es) if es.size > 1 => k }
    require(repeated.isEmpty, s"repeated query keys: ${repeated.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, q) => (k, q.fn) }

  val oracleSql: Map[String, String] =
    all.collect { case (k, Q(_, Some(sql))) => (k, sql.linesIterator.map(_.trim).mkString(" ")) }
}
