package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ops.{MoveAddress, Municipalities, ParcelOps}
import graft.ops.ParcelOps.ConsF
import graft.sources.{CadastreGml, CsvGeoJson, GmlText, InspireGml, OsmOut}

/** Command-line entry point: the reference's `catatom2osm` executable
  * (__main__.py:53-73 process()) over this engine. [[Cli]] owns the
  * argument grammar; this object executes the routed [[Cli.Action]]:
  *
  *  - `Process`: read the municipality's Cadastre GML layers from the path
  *    directory (A.ES.SDGC.BU.<code>.building/buildingpart/othercons + the
  *    AD address gml — the exact files catatom.py:52-76 resolves), run the
  *    full [[AppRun]] DAG, write `tasks/<label>.osm.gz` + `report.txt`
  *    into the directory (app.py:310-389, 889-918). A missing parcel layer
  *    falls back to create_missing_parcels' from-building parcels (the
  *    chain op the reference applies to unmatched refs).
  *  - `GenerateMunicipalities`: municipalities.py:96-156 over the three
  *    input CSVs found next to the output file.
  *  - `ListCodes`: the static office table ('99') or an injected
  *    municipality source (the reference fetches an ATOM feed — network).
  *  - `Download` (-w): the reference's ATOM fetch honored without egress —
  *    a config `download_base: file://...` names a staged mirror dir and
  *    the layer files are resolved and copied in ([[downloadPath]]).
  */
object Main {

  final case class Io(
      out: String => Unit = println,
      err: String => Unit = s => System.err.println(s),
      /** -l PROV municipality source (network in the reference). */
      municipalities: String => Seq[(String, String)] = _ => Seq.empty)

  def main(args: Array[String]): Unit = {
    val code = run(args.toSeq, Io(), () => {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
      val spark = graft.Bench.makeSession(cpus)
      spark.sparkContext.setLogLevel("WARN")
      spark
    })
    if (code != 0) sys.exit(code)
  }

  /** Parse, route, execute. Returns a process exit code; all effects go
    * through `io` so every branch is testable. The Spark session is built
    * lazily — only the actions that need one pay for it. */
  def run(argv: Seq[String], io: Io, mkSpark: () => SparkSession): Int =
    Cli.parse(argv).fold(
      e => { io.err(e); 2 },
      o => Cli.route(o) match {
        case Cli.Usage =>
          io.out(Cli.usage); 0
        case Cli.ShowVersion =>
          io.out(Cli.Version); 0
        case Cli.Fail(msg) =>
          io.err(msg); 1
        case Cli.GenerateConfig =>
          io.out(defaultConfig); 0
        case Cli.ListCodes(code) =>
          Cli.listCode(code, io.municipalities).fold(e => { io.err(e); 1 },
            s => { io.out(s); 0 })
        case Cli.Download(paths) =>
          // Reader.download call order, __main__.py:58-61
          paths.map(p => downloadPath(p, io)).max
        case Cli.GenerateMunicipalities(paths) =>
          generateMunicipalities(mkSpark(), paths, io)
        case Cli.Process(opts) =>
          opts.path.map(p => processPath(mkSpark(), p, opts, io)).max
      })

  /** config.generate_default_user_config's observable contract: a sample
    * config with the documented defaults (config.py:616-660). */
  val defaultConfig: String =
    """language: es_ES
      |parcel_parts: 20
      |parcel_dist: 1000
      |dup_thr: 0.012
      |dist_thr: 0.02
      |straight_thr: 2
      |min_area: 0.05
      |show_refs: false
      |""".stripMargin

  private def firstExisting(cands: Seq[String]): Option[String] =
    cands.find(p => Files.exists(Paths.get(p)))

  /** json.dumps-faithful string escaping (report.py export): a municipality
    * name with a quote or backslash must still produce valid JSON. */
  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** report.export's machine JSON: numeric values + escaped strings. */
  private def reportJson(report: Report): String =
    (report.values.toSeq.sorted.map { case (k, v) => s"${jq(k)}: $v" } ++
      report.strings.toSeq.sorted.map { case (k, v) => s"${jq(k)}: ${jq(v)}" })
      .mkString("{", ", ", "}")

  /** config.get_user_config (config.py:771-786): a flat YAML of
    * `key: value` overrides. The subset this engine consumes is parsed
    * here (scalar lines only — the reference's user surface for the knobs
    * that alter the run: parcel_parts, parcel_dist); unknown keys are
    * carried through untouched so a reference config file loads as-is. */
  def readUserConfig(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .map(_.takeWhile(_ != '#').trim)
      .filter(l => l.nonEmpty && l.contains(":") && !l.startsWith("-"))
      .map { l =>
        val i = l.indexOf(':')
        l.substring(0, i).trim -> l.substring(i + 1).trim.stripPrefix("\"").stripSuffix("\"")
      }
      .toMap

  /** -w: the reference's Reader.download step (catatom.py:204-215 +
    * get_atom_file:81-108) re-expressed without egress: a `download_base`
    * config key holds a file:// URL of a staged ATOM mirror directory, and
    * "downloading" resolves every `A.ES.SDGC.<group>.*<code>*` file under
    * it (zip / gml / MD xml — the same artifacts the ATOM feed serves) and
    * copies them into the municipality directory. Layer groups and call
    * order follow __main__.py:58-61 (address, cadastralzoning, building →
    * AD, CP, BU). A code matching nothing in the mirror fails with the
    * reference's CatValueError message; a single group with no files only
    * warns, so partially staged mirrors (e.g. building-only) stay usable. */
  def downloadPath(path: String, io: Io): Int = {
    val dir = path.stripSuffix("/")
    val code = Paths.get(dir).getFileName.toString
    if (!code.matches("\\d{5}")) {
      io.err(s"Directory name must be a 5 digits ZIP code: $code"); return 1
    }
    val conf = firstExisting(Seq(s"$dir/config.yaml", "config.yaml"))
      .map(readUserConfig).getOrElse(Map.empty)
    val base = conf.get("download_base").getOrElse {
      io.err("download_base not configured: set 'download_base: " +
        "file:///path/to/atom-mirror' in config.yaml (zero-egress build)")
      return 1
    }
    if (!base.startsWith("file://")) {
      io.err(s"only file:// download_base is supported in this zero-egress build: $base")
      return 1
    }
    val baseDir = Paths.get(base.stripPrefix("file://"))
    if (!Files.isDirectory(baseDir)) {
      io.err(s"download_base directory not found: $baseDir"); return 1
    }
    Files.createDirectories(Paths.get(dir))
    var total = 0
    for ((layer, group) <- Seq("address" -> "AD", "cadastralzoning" -> "CP",
        "building" -> "BU")) {
      val found = {
        val s = Files.walk(baseDir, 3)
        try s.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && n.startsWith(s"A.ES.SDGC.$group.") &&
            n.contains(code)
        }.toSeq
        finally s.close()
      }
      if (found.isEmpty)
        io.err(s"No staged files for layer '$layer' of '$code' in $baseDir")
      found.foreach { src =>
        val dest = Paths.get(dir).resolve(src.getFileName.toString)
        io.out(s"Downloading '$dest'")
        Files.copy(src, dest, StandardCopyOption.REPLACE_EXISTING)
        total += 1
      }
    }
    if (total == 0) { io.err(s"Municipality code '$code' don't exists"); 1 }
    else 0
  }

  /** [[firstExisting]] for container paths: `archive.zip!member.gml`
    * candidates resolve when the archive holds the member. */
  private def firstAvailable(cands: Seq[String]): Option[String] =
    cands.find(GmlText.exists)

  /** catatom.py:52-76 layer filename resolution, tolerant of the
    * test-fixture names (`<code>.building.gml`, `building.gml`). The
    * downloaded ZIP is tried when no bare GML exists — the reference's
    * read() zip path (catatom.py:236-241); bare GML first keeps
    * fix_encoding/fix_amp outputs authoritative. */
  private def layerFile(dir: String, code: String, layer: String): Option[String] = {
    // the Cadastre's served name for the pools/other layer is
    // 'otherconstruction' (catatom.py get_layer_paths); 'othercons' is the
    // reference test-fixture shorthand — accept both spellings everywhere
    val names = if (layer == "othercons") Seq("othercons", "otherconstruction")
      else Seq(layer)
    firstAvailable(
      names.map(l => s"$dir/A.ES.SDGC.BU.$code.$l.gml") ++
      names.map(l => s"$dir/$code.$l.gml") ++
      names.map(l => s"$dir/$l.gml") ++
      names.map(l => s"$dir/A.ES.SDGC.BU.$code.zip!A.ES.SDGC.BU.$code.$l.gml"))
  }

  private def addressFile(dir: String, code: String): Option[String] =
    firstAvailable(Seq(
      s"$dir/A.ES.SDGC.AD.$code.gml",
      s"$dir/$code.address.gml",
      s"$dir/address.gml",
      s"$dir/A.ES.SDGC.AD.$code.zip!A.ES.SDGC.AD.$code.gml"))

  /** UTM zone from a GML's srsName (e.g. urn:ogc:def:crs:EPSG::32628 →
    * 28; ETRS89 25828-25831 → 28-31). Defaults to 30 (peninsular). */
  private def utmZone(gmlPath: String): Int = {
    // bounded read: only the header region is needed, not the whole file
    // — GmlText.open decompresses container paths streaming, so the head
    // probe never inflates a whole archive member
    val in = GmlText.open(gmlPath)
    val head = try {
      val buf = new Array[Byte](200000)
      var off = 0; var n = 0
      while (off < buf.length && { n = in.read(buf, off, buf.length - off); n > 0 })
        off += n
      new String(buf, 0, off, StandardCharsets.UTF_8)
    } finally in.close()
    // srsName spellings: urn:ogc:def:crs:EPSG::32628, EPSG:32628, and the
    // OGC URL form .../def/crs/EPSG/0/32628
    "EPSG(?:::?|/0/)(\\d+)".r.findFirstMatchIn(head).map(_.group(1).toInt) match {
      case Some(c) if c >= 32601 && c <= 32660 => c - 32600
      case Some(c) if c >= 25828 && c <= 25831 => c - 25800
      case _ => 30
    }
  }

  private def consOf(path: String): Seq[ConsF] =
    CadastreGml.read(path).map { f =>
      val a = CadastreGml.toConsAttrs(f)
      def i(k: String) = a.get(k).filter(_.nonEmpty)
        .flatMap(v => scala.util.Try(v.toDouble.toInt).toOption).getOrElse(-1)
      val lid = a("localId")
      ConsF(lid, ParcelOps.refOf(lid), ParcelOps.kindOf(lid),
        i("lev_above"), i("lev_below"), f.geometry)
    }

  /** -z: tasks-definition-only run (app.py:148-149 + 440-447 export_poly):
    * read the CadastralZoning layer, merge the rustic (level P) zones by
    * shared-edge cancellation — merge_adjacent_features' union, the same
    * technique as Adjacency.unionByComponent — and write the Osmosis
    * boundary.poly with hole rings nested by containment. */
  def processZoning(dir: String, code: String, io: Io): Int = {
    val f = firstAvailable(Seq(
      s"$dir/A.ES.SDGC.CP.$code.cadastralzoning.gml",
      s"$dir/$code.zoning.gml", s"$dir/zoning.gml",
      s"$dir/A.ES.SDGC.CP.$code.zip!A.ES.SDGC.CP.$code.cadastralzoning.gml")).getOrElse {
      io.err(s"No zoning layer found in $dir"); return 1
    }
    val rustic = scala.util.Try(InspireGml.cadastralZonings(f)).getOrElse {
      io.err(s"Can't open $f"); return 1
    }.filter(_._3 == "P")
    if (rustic.isEmpty) { io.err("No rustic zones in zoning layer"); return 1 }
    // interior walls: undirected segments owned by >=2 rings cancel
    val owned = scala.collection.mutable.Map[(graft.geom.Pt, graft.geom.Pt), Int]()
    val dirEdges = scala.collection.mutable.ArrayBuffer[(graft.geom.Pt, graft.geom.Pt)]()
    for ((_, _, _, polys) <- rustic; poly <- polys; ring <- poly; i <- ring.indices) {
      val a = ring(i); val b = ring((i + 1) % ring.length)
      val key = if (a.x < b.x || (a.x == b.x && a.y <= b.y)) (a, b) else (b, a)
      owned(key) = owned.getOrElse(key, 0) + 1
      dirEdges += ((a, b))
    }
    val boundary = dirEdges.filter { case (a, b) =>
      val key = if (a.x < b.x || (a.x == b.x && a.y <= b.y)) (a, b) else (b, a)
      owned(key) == 1
    }
    val rings = graft.ops.Adjacency.assembleRings(boundary.toSeq)
      .map(r => graft.clean.PolygonClean.simplifyRing(r))
      .sortBy(r => -graft.geom.Geom.ringArea(r))
    // containment nesting: largest-first; a ring inside an outer is its hole
    val parts = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[Array[graft.geom.Pt]]]()
    for (r <- rings) {
      parts.find(p => graft.geom.Geom.pointInRing(r.head, p.head)) match {
        case Some(p) => p += r
        case None => parts += scala.collection.mutable.ArrayBuffer(r)
      }
    }
    val mun = parts.map(_.toArray).toArray
    val poly = graft.sources.CsvGeoJson.exportPoly(mun)
    Files.write(Paths.get(s"$dir/boundary.poly"),
      poly.getBytes(StandardCharsets.UTF_8))
    // export_municipality (app.py:166-182): the same merged boundary as a
    // WGS84 GeoJSON MultiPolygon, reprojected by the engine's own
    // Transverse Mercator kernel; zone from the zoning GML's srsName
    val zone = utmZone(f)
    val coords = mun.map(_.map { ring =>
      (ring :+ ring.head).map { p =>
        val (lon, lat) = graft.geom.Utm.utmToWgs84(zone, p.x, p.y)
        s"[$lon,$lat]"
      }.mkString("[", ",", "]")
    }.mkString("[", ",", "]")).mkString("[", ",", "]")
    val gj = s"""{"type":"FeatureCollection","features":[{"type":"Feature",""" +
      s""""properties":{"name":"$code"},""" +
      s""""geometry":{"type":"MultiPolygon","coordinates":$coords}}]}"""
    Files.write(Paths.get(s"$dir/$code.geojson"),
      gj.getBytes(StandardCharsets.UTF_8))
    io.out(s"Generated '$dir/boundary.poly' and '$dir/$code.geojson' " +
      s"(${rings.length} rings, ${mun.length} parts)")
    0
  }

  /** -c add_comments (app.py:184-205): stamp the import changeset tags
    * onto every task file — comment '<import tag> <mun_code> <label>'
    * (get_task_comment, app.py:106-116), generator, source — rewriting a
    * file only when its tags actually change (idempotent), and warning on
    * fixme tags left by the JOSM review. */
  def addComments(dir: String, code: String, io: Io,
      tasksFolder: String = "tasks"): Int = {
    val tasksDir = Paths.get(s"$dir/$tasksFolder")
    if (!Files.exists(Paths.get(s"$dir/report.txt"))) {
      io.out("No report found"); return 0
    }
    if (!Files.exists(tasksDir)) { io.out("No tasks found"); return 0 }
    val listing = Files.list(tasksDir)
    val files = try listing.toArray.map(_.toString)
      .filter(f => f.endsWith(".osm") || f.endsWith(".osm.gz")).sorted
    finally listing.close()
    if (files.isEmpty) { io.out("No tasks found"); return 0 }
    var changed = 0
    for (f <- files) {
      val label = Paths.get(f).getFileName.toString.split("\\.")(0)
      // single decompress: parse elements AND changeset tags from one read
      val xml = {
        val in: java.io.InputStream =
          if (f.endsWith(".gz"))
            new java.util.zip.GZIPInputStream(Files.newInputStream(Paths.get(f)))
          else Files.newInputStream(Paths.get(f))
        try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      }
      val (ns, ws, rs) = OsmOut.parseOsm(xml)
      val fixmes = ns.count(_.tags.contains("fixme")) +
        ws.count(_.tags.contains("fixme")) + rs.count(_.tags.contains("fixme"))
      if (fixmes > 0) io.err(s"Check $fixmes fixme tags")
      val oldTags = OsmOut.parseChangesetTags(xml)
      val newTags = oldTags ++ OsmOut.ChangesetTags ++ Map(
        "comment" -> s"${OsmOut.ChangesetTags("comment")} $code $label",
        "generator" -> "graft")
      if (newTags != oldTags) {
        OsmOut.writeDocFile(OsmOut.OsmDoc(ns, ws, rs, newTags), f)
        changed += 1
      }
    }
    io.out(s"Updated $changed of ${files.length} task files")
    0
  }

  /** One municipality directory end-to-end (CatAtom2Osm.run, app.py:118-165):
    * building + address read, AppRun DAG, task files + report written back
    * into the directory. Returns an exit code. */
  def processPath(spark: SparkSession, path: String, opts: Cli.Options,
      io: Io): Int = {
    import spark.implicits._
    val dir = path.stripSuffix("/")
    val code = Paths.get(dir).getFileName.toString
    if (!code.matches("\\d{5}")) {
      io.err(s"Directory name must be a 5 digits ZIP code: $code"); return 1
    }
    // tasks folder carries the -b/-d opt suffix and the task-source layer
    // follows it (app.py:76-97: tasks_folder + opt, source='address' for
    // -d): a -d run's task files carry the address nodes alone, a -b run's
    // only building geometry, and neither collides with a both-layers run
    val folderOpt = if (!opts.address) "-b" else if (!opts.building) "-d" else ""
    val tasksFolder = s"tasks$folderOpt"
    val taskSource =
      if (opts.address && !opts.building) "address" else "building"
    // -c: recover task-file metadata after JOSM editing (app.py:184-205
    // add_comments) — runs first and alone, like the reference
    if (opts.comment) return addComments(dir, code, io, tasksFolder)
    // -z: tasks definition only (help text: 'Process only the tasks
    // definition file') — boundary.poly from the zoning layer, no chain
    if (opts.zoning) return processZoning(dir, code, io)
    val buildingGml = layerFile(dir, code, "building").orElse {
      io.err(s"No building layer found in $dir"); None
    }.getOrElse(return 1)
    // Reader.read's empty-layer contract (catatom.py:243-249): a served
    // null layer raises for the required layers (allow_empty=False —
    // building, buildingpart: app.py:277,300) and only logs for
    // otherconstruction (allow_empty=True: app.py:278)
    if (CsvGeoJson.isEmptyGml(buildingGml)) {
      io.err(s"The layer '$buildingGml' is empty"); return 1
    }
    val partGml = layerFile(dir, code, "buildingpart")
    partGml.filter(CsvGeoJson.isEmptyGml).foreach { p =>
      io.err(s"The layer '$p' is empty"); return 1
    }
    val otherGml = layerFile(dir, code, "othercons")
      .filterNot { p =>
        val e = CsvGeoJson.isEmptyGml(p)
        if (e) io.out(s"The layer '$p' is empty")
        e
      }

    val consAll = consOf(buildingGml) ++
      partGml.toSeq.flatMap(consOf) ++
      otherGml.toSeq.flatMap(consOf)

    // -s SPLIT: keep features with >=50% of their area inside the boundary
    // (app.py:255-258; the reference filters the zoning/parcel query, which
    // here — parcels being derived from buildings — is the same cut)
    val afterSplit = opts.split match {
      case None => consAll
      case Some(sf) =>
        val p = firstExisting(Seq(sf, s"$dir/$sf", s"$dir/$sf.geojson"))
          .getOrElse { io.err(s"Can't open $sf"); return 1 }
        val polys = scala.util.Try(graft.ops.Split.read(p)).getOrElse {
          io.err(s"Can't open $sf"); return 1 // CatIOError analog, app.py:229
        }
        if (polys.isEmpty) { io.err(s"'$sf' does not include any polygon"); return 1 }
        val kept = consAll.filter(f => graft.ops.Split.keep(f.geometry, polys))
        io.out(s"Split '$sf': ${kept.length}/${consAll.length} features kept")
        kept
    }

    // -o REFCAT: the named parcel's bbox buffered by config.parcel_buffer
    // (200 m), keeping features whose interior overlaps it
    // (app.py:259-268's is_inside(f, rect) query)
    val cons = opts.parcel.headOption match {
      case None => afterSplit
      case Some(refcat) =>
        val target = afterSplit.filter(_.ref == refcat)
        if (target.isEmpty) { io.err(s"Parcel '$refcat' does not exists"); return 1 }
        val pts: Seq[graft.geom.Pt] =
          target.flatMap(_.geometry.toSeq.flatMap(_.toSeq.flatMap(_.toSeq)))
        val buf = 200.0
        val (x0, x1) = (pts.map(_.x).min - buf, pts.map(_.x).max + buf)
        val (y0, y1) = (pts.map(_.y).min - buf, pts.map(_.y).max + buf)
        val rect = Array(graft.geom.Pt(x0, y0), graft.geom.Pt(x1, y0),
          graft.geom.Pt(x1, y1), graft.geom.Pt(x0, y1))
        val kept = afterSplit.filter(f => f.geometry.exists(poly =>
          graft.geom.Geom.clipAreaConvex(poly.head, rect) > 0))
        io.out(s"Parcel '$refcat': ${kept.length}/${afterSplit.length} features kept")
        kept
    }

    // get_metadata (catatom.py:54-78): ISO-19139 metadata next to each
    // layer group — source date, Cadastre municipality name, EPSG ref
    // metadata also reads from inside the downloaded archive, like the
    // reference's get_metadata(md_path, zip_path)
    val buMeta = firstAvailable(Seq(
      s"$dir/A.ES.SDGC.BU.MD.$code.xml", s"$dir/$code.bu.md.xml",
      s"$dir/A.ES.SDGC.BU.$code.zip!A.ES.SDGC.BU.MD.$code.xml"))
      .flatMap(f => CadastreGml.getMetadata(f).toOption)
    val adMeta = firstAvailable(Seq(
      s"$dir/A.ES.SDGC.AD.MD.$code.xml", s"$dir/$code.ad.md.xml",
      s"$dir/A.ES.SDGC.AD.$code.zip!A.ES.SDGC.AD.MD.$code.xml"))
      .flatMap(f => CadastreGml.getMetadata(f).toOption)

    // -i/--info (app.py:127-133): input stats + source metadata only —
    // read the layers, tags_for_info (no date/options keys are added),
    // export info[_split].json, and stop before any processing
    if (opts.info) {
      val rep = new Report
      rep.strings("mun_code") = code
      buMeta.foreach { case (d, mun, _) =>
        rep.strings("cat_mun") = mun; rep.strings("building_date") = d }
      adMeta.foreach { case (d, _, _) => rep.strings("address_date") = d }
      rep.set("inp_features", cons.length)
      rep.set("inp_buildings", cons.count(_.kind == "building"))
      rep.set("inp_parts", cons.count(_.kind == "part"))
      rep.set("inp_pools", cons.count(_.kind == "pool"))
      addressFile(dir, code).foreach { f =>
        val specs = InspireGml.resolvedAddresses(spark, f)
          .select(col("spec")).as[String].collect()
        rep.set("inp_address", specs.length)
        rep.set("inp_address_entrance", specs.count(_ == "Entrance"))
        rep.set("inp_address_parcel", specs.count(_ != "Entrance"))
      }
      val fn = opts.split.map(s => s"_$s").getOrElse("")
      Files.write(Paths.get(s"$dir/info$fn.json"),
        reportJson(rep).getBytes(StandardCharsets.UTF_8))
      io.out(s"Generated '$dir/info$fn.json'")
      return 0
    }

    // get_address + the highway_names two-pass lifecycle (app.py:552-593,
    // 690-729): the FIRST address run resolves street names against any
    // locally present current_highway/place.osm (the Overpass fetch is out
    // of scope; -m manual = empty pools, same as the reference), writes
    // highway_names.csv and STOPS so the user can review it; the second
    // run reads the (possibly edited) table back and threads the
    // translated names into the task documents' address tags.
    var addrTags: Map[String, Map[String, String]] = Map.empty
    val addrs =
      if (!opts.address) spark.emptyDataset[MoveAddress.Addr]
      else addressFile(dir, code) match {
        case None =>
          io.err(s"No address layer found in $dir (processing buildings only)")
          spark.emptyDataset[MoveAddress.Addr]
        case Some(f) =>
          // per-municipality bounded, like the reference's in-memory layer
          val resolved = InspireGml.resolvedAddresses(spark, f)
            .select(col("localId"), col("TN_text"), col("designator"),
              col("postCode").cast("string"), col("spec"), col("x"), col("y"))
            .as[(String, String, String, String, String, Double, Double)]
            .collect()
          val namesPath = s"$dir/highway_names.csv"
          val isNew = !Files.exists(Paths.get(namesPath))
          val names = graft.sources.CsvGeoJson
            .getTranslations(spark, namesPath, isNew) {
              val zone = utmZone(f)
              def pool(file: String,
                  extract: OsmOut.OsmDoc => Seq[(String, Seq[graft.geom.Pt])]) =
                if (opts.manual) Seq.empty
                else firstExisting(Seq(s"$dir/$file", s"$dir/$file.gz")).toSeq
                  .flatMap { p =>
                    val (ns, ws, rs) = OsmOut.readOsmFile(p)
                    extract(OsmOut.OsmDoc(ns, ws, rs)).flatMap {
                      case (_, pts) if pts.isEmpty => None
                      case (n, pts) =>
                        val u = pts.map { pt =>
                          val (x, y) = graft.geom.Utm.wgs84ToUtm(zone, pt.x, pt.y)
                          graft.geom.Pt(x, y)
                        }
                        Some(graft.ops.AddressNames.Named(n, graft.geom.Geom.BBox(
                          u.map(_.x).min, u.map(_.y).min,
                          u.map(_.x).max, u.map(_.y).max)))
                    }
                  }
              val highways = pool("current_highway.osm",
                graft.ops.AddressNames.highwaysFromOsm)
              val places = pool("current_place.osm",
                d => graft.ops.AddressNames.placesFromOsm(d)
                  .map { case (n, p) => (n, Seq(p)) })
              val addrDs = spark.createDataset(
                resolved.toSeq.map(r => (r._2, r._6, r._7)))
              graft.ops.AddressNames
                .getNamesD(addrDs,
                  graft.ops.AddressNames.namedRows(spark, highways, places))
                .as[(String, String, String)].collect()
                .map(t => t._1 -> t._2).toMap
            }
          if (isNew) {
            io.out(s"Generated '$namesPath'. Please, check it and run again")
            return 0 // stop_address (app.py:581-592)
          }
          // translate_field: empty translations delete the address
          val kept = resolved.filter { r =>
            names.getOrElse(Option(r._2).getOrElse(""), Option(r._2).getOrElse(""))
              .trim.nonEmpty
          }
          addrTags = kept.map { case (lid, tn, des, pc, spec, _, _) =>
            val tn0 = Option(tn).getOrElse("")
            lid -> graft.text.Translate.addressTagsRow(lid,
              names.getOrElse(tn0, tn0), Option(des).getOrElse(""),
              Option(pc).getOrElse(""), spec, "")
          }.toMap
          spark.createDataset(kept.toSeq.map { case (lid, _, _, _, spec, x, y) =>
            MoveAddress.Addr(lid, lid.split("\\.").last, spec, x, y)
          })
      }

    // -f CONFIG: overrides for the run's knobs (__main__.py:64-67 routes
    // the file into config.get_user_config before create_and_run; with no
    // -f the default config file is auto-loaded when present, same place)
    val conf = opts.configFile
      .flatMap(f => firstExisting(Seq(f, s"$dir/$f")))
      .orElse(firstExisting(Seq(s"$dir/config.yaml", "config.yaml")))
      .map(readUserConfig).getOrElse(Map.empty)
    val maxParts = conf.get("parcel_parts").flatMap(v =>
      scala.util.Try(v.toInt).toOption).getOrElse(20)

    // get_parcel (app.py:248-273, catatom.py:216-264): read the
    // CadastralParcel layer when present — real parcel polygons drive the
    // tiling merges; otherwise the DAG synthesizes parcels from building
    // outlines via create_missing_parcels (which also fills any refs the
    // CP layer lacks). Parcels for refs outside the -s/-o cut are deleted
    // by delete_void_parcels inside the DAG, mirroring the parcel query.
    val parcelsSeq: Seq[graft.ops.ParcelOps.Parcel] = firstAvailable(Seq(
      s"$dir/A.ES.SDGC.CP.$code.cadastralparcel.gml",
      s"$dir/$code.cadastralparcel.gml",
      s"$dir/cadastralparcel.gml",
      s"$dir/A.ES.SDGC.CP.$code.zip!A.ES.SDGC.CP.$code.cadastralparcel.gml")) match {
      case Some(f) =>
        val ps = InspireGml.cadastralParcels(f)
          .filter(_._2.nonEmpty)
          .map { case (lid, g) => graft.ops.ParcelOps.Parcel(lid, null, 0, g) }
        io.out(s"Read ${ps.length} parcels in '$f'")
        ps
      case None => Seq.empty
    }

    // distributed single-mun run: task documents stay a Dataset end to end
    // (writeTaskFiles is a distributed file sink; the XML never collects)
    val (taskDocsDs, report) = AppRun.runDocs(spark, cons, parcelsSeq, addrs,
      code, maxParts = maxParts, addrTags = addrTags, taskSource = taskSource)
    val nTasks = OsmOut.writeTaskFiles(
      taskDocsDs.map(d => (d.label, d.xml)), s"$dir/$tasksFolder")
    // <task>.fixmes.geojson review files (cons.py:580-587 export_fixmes:
    // centroid point + the fixme text; no file when a task has none).
    // Per-task parsing happens on executors; only the (small) fixme point
    // lists of affected tasks return to the driver for the file writes.
    val fixmeDocs = taskDocsDs.flatMap { d =>
      val label = d.label
      val (ns, ws, _) = OsmOut.parseOsm(d.xml)
      val byId = ns.map(n => n.id -> n).toMap
      val pts = ns.filter(_.tags.contains("fixme"))
        .map(n => (n.tags("fixme"), n.lon, n.lat)) ++
        ws.filter(_.tags.contains("fixme")).flatMap { w =>
          val wp = w.ndRefs.flatMap(byId.get)
          if (wp.isEmpty) None
          else Some((w.tags("fixme"),
            wp.map(_.lon).sum / wp.size, wp.map(_.lat).sum / wp.size))
        }
      if (pts.isEmpty) None
      else {
        def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
        val features = pts.map { case (f, x, y) =>
          s"""{"type":"Feature","properties":{"fixme":"${esc(f)}"},""" +
            s""""geometry":{"type":"Point","coordinates":[$x,$y]}}"""
        }
        // a proper FeatureCollection — JOSM/ogr open it (the reference's
        // export_fixmes writes through the GeoJSON driver)
        Some((label, pts.size, features.mkString(
          """{"type":"FeatureCollection","features":[""", ",", "]}")))
      }
    }.collect()
    var fixmeCount = 0
    for ((label, n, gj) <- fixmeDocs) {
      fixmeCount += n
      Files.write(Paths.get(s"$dir/$tasksFolder/$label.fixmes.geojson"),
        gj.getBytes(StandardCharsets.UTF_8))
    }
    if (fixmeCount > 0) io.err(s"Check $fixmeCount fixme tags")
    // report.txt in the reference's human layout (report.to_file) +
    // report.json as the machine checkpoint (report.export)
    report.strings("mun_code") = code
    // source metadata fields (app.py:251,304,527): Cadastre name + dates
    buMeta.foreach { case (d, mun, _) =>
      report.strings("cat_mun") = mun
      report.strings("building_date") = d
    }
    adMeta.foreach { case (d, _, _) =>
      if (opts.address) report.strings("address_date") = d
    }
    // -d (source='address'): match the reference's address-only report
    // surface — building-chain metrics never reach report.txt/report.json.
    // The CLI summary counts what the run actually shipped (addresses in
    // -d, building features otherwise), captured before the suppression.
    val outCount = report.get(
      if (taskSource == "address") "out_address" else "out_features")
    if (taskSource == "address") report.suppressBuildingGroup()
    report.validate() // fills report.errors for the Problems group
    if (fixmeCount > 0) report.set("fixme_count", fixmeCount.toLong)
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/report.txt"),
      report.toDisplayString().getBytes(StandardCharsets.UTF_8))
    val json = reportJson(report)
    Files.write(Paths.get(s"$dir/report.json"),
      json.getBytes(StandardCharsets.UTF_8))
    io.out(s"$code: $nTasks tasks, $outCount features")
    0
  }

  /** municipalities.generate_municipalities (municipalities.py:159-170):
    * output path from PATHS (default municipalities.csv in cwd), input
    * tables read from the directory holding the output. */
  def generateMunicipalities(spark: SparkSession, paths: Seq[String],
      io: Io): Int = {
    import spark.implicits._
    val outPath = paths.headOption.getOrElse("municipalities.csv")
    val dir = Option(Paths.get(outPath).getParent).map(_.toString).getOrElse(".")
    def rows(name: String): Option[Seq[Array[String]]] = {
      val p = Paths.get(s"$dir/$name")
      if (!Files.exists(p)) { io.err(s"Missing input table $p"); None }
      else Some(Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
        .filter(_.nonEmpty).map(_.split("\t"))
        .filter(_.length >= 2)) // short rows would index out of bounds below
    }
    (rows("municipalities-cat-ad.csv"), rows("municipalities-ign-au.csv"),
      rows("municipalities-old.csv")) match {
      case (Some(cat), Some(ign), Some(old)) =>
        val out = Municipalities.generateMunD(
            spark.createDataset(cat.filter(_.length >= 3).map(r => (r(0), r(1), r(2)))),
            spark.createDataset(ign.filter(_.length >= 3).map(r => (r(0), r(1), r(2)))),
            spark.createDataset(old.map(r => (r(0), r(1)))))
          .as[(String, String, String)].collect()
          .sortBy(_._1).map { case (a, b, c) => s"$a\t$b\t$c" }
        Files.write(Paths.get(outPath),
          out.mkString("\n").getBytes(StandardCharsets.UTF_8))
        io.out(s"Wrote ${out.length} municipalities to $outPath")
        0
      case _ => 1
    }
  }
}
