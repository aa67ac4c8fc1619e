package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite
import graft.RefFixtures
import graft.TestSpark.withTempDir

/** End-to-end CLI run: `graft.pipeline.Main 38023 -b` over the reference's
  * own 38023 Cadastre GML fixtures — files in, task .osm.gz files and
  * report.txt out, through the distributed AppRun DAG. */
class MainSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  /** The 38023 building fixtures staged as a municipality dir under `root`. */
  private def stage(root: Path): String = {
    val dir = root.resolve("38023")
    Files.createDirectories(dir)
    Seq("38023.building.gml", "38023.buildingpart.gml").foreach { f =>
      Files.copy(Paths.get(RefFixtures.fixture(f)), dir.resolve(f),
        StandardCopyOption.REPLACE_EXISTING)
    }
    dir.toString
  }

  test("-w fetches staged ATOM files via file:// then the dir processes cleanly") {
    withTempDir("graft_dl") { tmp =>
      // stage a zero-egress "ATOM mirror": reference 38023 fixtures under
      // their canonical served names
      val mirror = Files.createDirectories(tmp.resolve("atom"))
      Files.copy(Paths.get(RefFixtures.fixture("38023.building.gml")),
        mirror.resolve("A.ES.SDGC.BU.38023.building.gml"))
      Files.copy(Paths.get(RefFixtures.fixture("38023.buildingpart.gml")),
        mirror.resolve("A.ES.SDGC.BU.38023.buildingpart.gml"))
      val dir = tmp.resolve("dl").resolve("38023")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("config.yaml"),
        s"download_base: file://$mirror\n")
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val io = Main.Io(out = out += _, err = out += _)
      // -w: fetch the municipality's files into the dir
      assert(Main.run(Seq(dir.toString, "-w"), io, () => spark) === 0,
        out.mkString("; "))
      assert(out.count(_.startsWith("Downloading '")) === 2, out.mkString("; "))
      assert(Files.exists(dir.resolve("A.ES.SDGC.BU.38023.building.gml")))
      // then the standard process run consumes exactly what -w staged
      out.clear()
      assert(Main.run(Seq(dir.toString, "-b"), io, () => spark) === 0,
        out.mkString("; "))
      assert(Files.list(dir.resolve("tasks-b")).toArray.nonEmpty)
      // unknown code in the mirror -> the reference's CatValueError message
      val bad = tmp.resolve("dl2").resolve("99999")
      Files.createDirectories(bad)
      Files.writeString(bad.resolve("config.yaml"),
        s"download_base: file://$mirror\n")
      val errs = scala.collection.mutable.ArrayBuffer[String]()
      assert(Main.run(Seq(bad.toString, "-w"),
        Main.Io(out = _ => (), err = errs += _), () => spark) === 1)
      assert(errs.exists(_.contains("Municipality code '99999' don't exists")),
        errs.mkString("; "))
    }
  }

  test("process runs straight from the downloaded ZIP (no extracted GML)") {
    withTempDir("graft_zip") { tmp =>
      // the reference's read() tries the ZIP first (catatom.py:236-241) —
      // a dir holding only A.ES.SDGC.BU.<code>.zip must process end to end
      val dir = tmp.resolve("38023")
      Files.createDirectories(dir)
      val zip = new java.util.zip.ZipOutputStream(
        Files.newOutputStream(dir.resolve("A.ES.SDGC.BU.38023.zip")))
      try {
        for ((src, entry) <- Seq(
            "38023.building.gml" -> "A.ES.SDGC.BU.38023.building.gml",
            "38023.buildingpart.gml" -> "A.ES.SDGC.BU.38023.buildingpart.gml")) {
          zip.putNextEntry(new java.util.zip.ZipEntry(entry))
          zip.write(Files.readAllBytes(Paths.get(RefFixtures.fixture(src))))
          zip.closeEntry()
        }
      } finally zip.close()
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val io = Main.Io(out = out += _, err = out += _)
      assert(Main.run(Seq(dir.toString, "-b"), io, () => spark) === 0,
        out.mkString("; "))
      val tasks = Files.list(dir.resolve("tasks-b")).toArray.map(_.toString)
      assert(tasks.exists(_.endsWith(".osm.gz")), out.mkString("; "))
    }
  }

  test("an empty building layer raises the reference's CatIOError message") {
    withTempDir("graft_empty") { tmp =>
      val dir = tmp.resolve("38023")
      Files.createDirectories(dir)
      Files.copy(Paths.get(RefFixtures.fixture("empty.gml")),
        dir.resolve("38023.building.gml"))
      val errs = scala.collection.mutable.ArrayBuffer[String]()
      assert(Main.run(Seq(dir.toString, "-b"),
        Main.Io(out = _ => (), err = errs += _), () => spark) === 1)
      assert(errs.exists(_.contains("is empty")), errs.mkString("; "))
    }
  }

  test("process runs the building-only pipeline over a municipality dir") {
    withTempDir("graft_cli") { tmp =>
      val dir = stage(tmp)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val io = Main.Io(out = out += _, err = out += _)
      val code = Main.run(Seq(dir, "-b"), io, () => spark)
      assert(code === 0, out.mkString("; "))
      val tasks = Files.list(Paths.get(s"$dir/tasks-b")).toArray.map(_.toString)
      assert(tasks.nonEmpty && tasks.forall(_.endsWith(".osm.gz")))
      // every task doc parses back and carries building ways
      val (n0, w0, _) = graft.sources.OsmOut.readOsmFile(tasks.min)
      assert(n0.nonEmpty && w0.nonEmpty)
      val report = Files.readString(Paths.get(s"$dir/report.json"))
      def metric(k: String): Long =
        ("\"" + k + "\": (\\d+)").r.findFirstMatchIn(report)
          .map(_.group(1).toLong).getOrElse(-1L)
      // the 38023 GML fixture counts (CadastreGmlSpec reads the same files)
      assert(metric("inp_features") > 0)
      assert(metric("inp_buildings") > 0)
      assert(metric("inp_parts") > 0)
      // report.txt carries the reference's human layout
      val txt = Files.readString(Paths.get(s"$dir/report.txt"))
      assert(txt.contains("=Buildings=") && txt.contains("==Input data=="))
      assert(txt.contains("Feature count: "))
    }
  }

  test("full -bd run with the 38012 fixtures: addresses flow through the DAG") {
    withTempDir("graft_bd") { tmp =>
      val dir = tmp.resolve("38012")
      java.nio.file.Files.createDirectories(dir)
      Seq("building.gml", "buildingpart.gml", "othercons.gml", "address.gml")
        .foreach { f =>
          java.nio.file.Files.copy(java.nio.file.Paths.get(RefFixtures.fixture(f)), dir.resolve(f))
        }
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val io = Main.Io(out = out += _, err = out += _)
      // PASS 1: highway_names.csv missing -> generated, run stops (app.py's
      // stop_address two-pass lifecycle)
      assert(Main.run(Seq(dir.toString), io, () => spark) === 0, out.mkString("; "))
      assert(out.exists(_.contains("check it and run again")), out.mkString("; "))
      assert(java.nio.file.Files.exists(dir.resolve("highway_names.csv")))
      assert(!java.nio.file.Files.exists(dir.resolve("tasks")))
      // PASS 2: table present -> translated names thread into the task docs
      out.clear()
      assert(Main.run(Seq(dir.toString), io, () => spark) === 0, out.mkString("; "))
      val report = java.nio.file.Files.readString(dir.resolve("report.json"))
      def metric(k: String): Long =
        ("\"" + k + "\": (\\d+)").r.findFirstMatchIn(report)
          .map(_.group(1).toLong).getOrElse(-1L)
      assert(metric("inp_features") > 0)
      assert(metric("inp_address") > 0, report.toString)
      val tasks = java.nio.file.Files.list(dir.resolve("tasks")).toArray.map(_.toString)
      assert(tasks.nonEmpty)
      // building.gml and address.gml cover DIFFERENT fixture blocks (zero
      // shared refs), so every address legitimately drops at
      // remove_address_wo_building — the lifecycle evidence is the generated
      // name table with resolved translations (tag threading itself is
      // golden-tested in AppRunSpec on the matching cons fixtures)
      val names = graft.sources.CsvGeoJson.getTranslations(
        spark, dir.resolve("highway_names.csv").toString, isNew = false)(Map.empty)
      assert(names.nonEmpty && names.values.exists(_.nonEmpty), names.toString)
    }
  }

  test("-s SPLIT filters the run to the boundary's >=50%-area features") {
    withTempDir("graft_cli") { tmp =>
      val dir = stage(tmp)
      val okAll = scala.collection.mutable.ArrayBuffer[String]()
      assert(Main.run(Seq(dir, "-b"),
        Main.Io(out = okAll += _, err = okAll += _), () => spark) === 0)
      val allTasks = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/tasks-b"))
        .count()
      // boundary covering only the SW quadrant of the building extent
      val cons = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/38023.building.gml"))
      // box = first building's own bbox + margin: that footprint is kept
      // (ratio 1.0) while far features drop
      val firstRing = "posList[^>]*>([0-9. ]+)".r.findFirstMatchIn(cons).get.group(1)
      val nums = firstRing.trim.split("\\s+").map(_.toDouble).grouped(2)
        .map(a => (a(0), a(1))).toSeq
      val (xs, ys) = (nums.map(_._1), nums.map(_._2))
      val (x0, x1) = (xs.min - 5, xs.max + 5)
      val (y0, y1) = (ys.min - 5, ys.max + 5)
      val gj = s"""{"type":"FeatureCollection","features":[
      {"type":"Feature","properties":{},"geometry":{"type":"Polygon",
       "coordinates":[[[$x0,$y0],[$x1,$y0],[$x1,$y1],[$x0,$y1],[$x0,$y0]]]}}]}"""
      val dir2 = stage(tmp.resolve("2")) // fresh dir: the full run's task files must not linger
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir2/sw.geojson"), gj)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val code = Main.run(Seq(dir2, "-b", "-s", "sw.geojson"),
        Main.Io(out = out += _, err = out += _), () => spark)
      assert(code === 0, out.mkString("; "))
      val keptLine = out.find(_.contains("features kept")).getOrElse(fail(out.mkString("; ")))
      val Array(kept, total) =
        "(\\d+)/(\\d+)".r.findFirstIn(keptLine).get.split("/").map(_.toInt)
      assert(kept > 0 && kept < total, keptLine)
      val splitTasks = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir2/tasks-b"))
        .count()
      assert(splitTasks <= allTasks)
    }
  }

  test("-o REFCAT keeps the parcel neighborhood (200 m bbox buffer)") {
    withTempDir("graft_cli") { tmp =>
      val dir = stage(tmp)
      // pick a real ref from the building gml
      val cons = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/38023.building.gml"))
      val ref = "localId>(\\d+[A-Z]+\\d+[A-Z]*)".r.findFirstMatchIn(cons)
        .map(_.group(1)).getOrElse(
          "ES\\.SDGC\\.BU\\.([0-9A-Z]+)".r.findFirstMatchIn(cons).get.group(1))
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val io = Main.Io(out = out += _, err = out += _)
      val code = Main.run(Seq(dir, "-b", "-o", ref), io, () => spark)
      assert(code === 0, s"ref=$ref: " + out.mkString("; "))
      val keptLine = out.find(_.contains("features kept")).getOrElse(fail(out.mkString("; ")))
      val Array(kept, total) =
        "(\\d+)/(\\d+)".r.findFirstIn(keptLine).get.split("/").map(_.toInt)
      assert(kept >= 1 && kept <= total)
      // a bogus refcat errors like the reference's CatValueError
      val errs = scala.collection.mutable.ArrayBuffer[String]()
      assert(Main.run(Seq(stage(tmp.resolve("2")), "-b", "-o", "XXXXNOPE"),
        Main.Io(out = _ => (), err = errs += _), () => spark) === 1)
      assert(errs.exists(_.contains("does not exists")))
    }
  }

  test("-f user config: parcel_parts=1 packs more tiles than the default 20") {
    withTempDir("graft_cli") { tmp =>
      def tasksWith(conf: Option[String]): Long = {
        val dir = stage(tmp.resolve(if (conf.isEmpty) "default" else "user"))
        conf.foreach(c => java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/myconf.yaml"), c))
        val args = Seq(dir, "-b") ++ conf.map(_ => Seq("-f", "myconf.yaml")).getOrElse(Nil)
        val out = scala.collection.mutable.ArrayBuffer[String]()
        assert(Main.run(args, Main.Io(out = out += _, err = out += _),
          () => spark) === 0, out.mkString("; "))
        java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/tasks-b")).count()
      }
      val defaultTasks = tasksWith(None)
      val tinyTiles = tasksWith(Some("# my config\nlanguage: es_ES\nparcel_parts: 1\n"))
      assert(tinyTiles >= defaultTasks,
        s"parcel_parts=1 should merge less: $tinyTiles vs $defaultTasks")
      assert(Main.readUserConfig("/dev/null").get("parcel_parts") === None)
    }
  }

  test("-z writes boundary.poly from the rustic zoning union") {
    withTempDir("graft_z") { tmp =>
      val dir = tmp.resolve("38900")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(RefFixtures.fixture("zoning.gml")),
        dir.resolve("zoning.gml"))
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val io = Main.Io(out = out += _, err = out += _)
      assert(Main.run(Seq(dir.toString, "-z"), io, () => spark) === 0,
        out.mkString("; "))
      val poly = java.nio.file.Files.readAllLines(dir.resolve("boundary.poly"))
      assert(poly.get(0) === "admin_boundary")
      assert(poly.get(1) === "1")
      // coordinate lines are '%f %f'; ring sections are numbered
      assert(poly.stream.filter(_.matches("\\d+\\.\\d{6} \\d+\\.\\d{6}")).count() > 10)
      // export_municipality: the WGS84 geojson lands next to it, the Split
      // reader parses it back, and the reprojected boundary sits on Tenerife
      val gj = graft.ops.Split.read(dir.resolve("38900.geojson").toString)
      assert(gj.nonEmpty)
      val p0 = gj.head.outer.head
      assert(p0.x > -17.5 && p0.x < -15.5 && p0.y > 27.5 && p0.y < 29.0, p0.toString)
    }
  }

  test("-c stamps changeset tags onto task files, idempotently") {
    withTempDir("graft_cli") { tmp =>
      val dir = stage(tmp)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val io = Main.Io(out = out += _, err = out += _)
      assert(Main.run(Seq(dir, "-b"), io, () => spark) === 0)
      out.clear()
      assert(Main.run(Seq(dir, "-b", "-c"), io, () => spark) === 0, out.mkString("; "))
      val updated = "Updated (\\d+)".r.findFirstMatchIn(out.mkString).get.group(1).toInt
      assert(updated > 0)
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/tasks-b"))
        .toArray.map(_.toString).min
      val xml = {
        val in = new java.util.zip.GZIPInputStream(
          java.nio.file.Files.newInputStream(java.nio.file.Paths.get(f)))
        try new String(in.readAllBytes()) finally in.close()
      }
      val tags = graft.sources.OsmOut.parseChangesetTags(xml)
      assert(tags("type") === "import")
      assert(tags("comment").startsWith("#Spanish_Cadastre_Buildings_Import 38023"))
      // elements survive the rewrite
      val (ns, ws, _) = graft.sources.OsmOut.readOsmFile(f)
      assert(ns.nonEmpty && ws.nonEmpty)
      // second -c run: tags already right, nothing rewritten
      out.clear()
      assert(Main.run(Seq(dir, "-b", "-c"), io, () => spark) === 0)
      assert(out.exists(_.contains("Updated 0 of")), out.mkString("; "))
    }
  }

  test("-d writes address-only task files into tasks-d") {
    withTempDir("graft_cli") { tmp =>
      val dir = stage(tmp)
      // synthesize an AD address layer whose refs match real buildings: one
      // Parcel address per refcat, positioned on the building's first vertex
      val cons = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/38023.building.gml"))
      val feats = "(?s)<bu-ext2d:Building .*?</bu-ext2d:Building>".r
        .findAllIn(cons).take(4).toSeq
      val picks = feats.flatMap { f =>
        for {
          ref <- "localId>([0-9A-Z]+)<".r.findFirstMatchIn(f).map(_.group(1))
          pos <- "posList[^>]*>([0-9. ]+)".r.findFirstMatchIn(f).map(_.group(1))
        } yield {
          val n = pos.trim.split("\\s+").map(_.toDouble)
          (ref, n(0), n(1))
        }
      }
      assert(picks.nonEmpty, "no buildings parsed from the fixture")
      val members = picks.zipWithIndex.map { case ((ref, x, y), i) =>
        s"""<AD:Address gml:id="ES.SDGC.AD.38.023.$i">
           |<base:localId>38.023.$i.$ref</base:localId>
           |<AD:specification>Parcel</AD:specification>
           |<AD:designator>${i + 1}</AD:designator>
           |<gml:pos>$x $y</gml:pos>
           |<AD:component xlink:href="#ES.SDGC.TN.38.023.1"/>
           |<AD:component xlink:href="#ES.SDGC.PD.38.023.1"/>
           |</AD:Address>""".stripMargin
      }.mkString("\n")
      val gml =
        s"""<?xml version="1.0"?>
           |<gml:FeatureCollection srsName="urn:ogc:def:crs:EPSG::32628">
           |$members
           |<AD:ThoroughfareName gml:id="ES.SDGC.TN.38.023.1">
           |<GN:GeographicalName><GN:text>CL MAYOR</GN:text></GN:GeographicalName>
           |</AD:ThoroughfareName>
           |<AD:PostalDescriptor gml:id="ES.SDGC.PD.38.023.1">
           |<AD:postCode>38680</AD:postCode>
           |</AD:PostalDescriptor>
           |</gml:FeatureCollection>""".stripMargin
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/38023.address.gml"), gml)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val io = Main.Io(out = out += _, err = out += _)
      // two-pass highway_names lifecycle, then the -d run proper
      assert(Main.run(Seq(dir, "-d"), io, () => spark) === 0, out.mkString("; "))
      assert(out.exists(_.contains("check it and run again")), out.mkString("; "))
      out.clear()
      assert(Main.run(Seq(dir, "-d"), io, () => spark) === 0, out.mkString("; "))
      // app.py:76-97: -d writes to tasks-d, source='address' — task docs
      // carry the moved address NODES and no building geometry
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/tasks")))
      val tasks = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/tasks-d"))
        .toArray.map(_.toString).filter(_.endsWith(".osm.gz"))
      assert(tasks.nonEmpty, out.mkString("; "))
      val parsed = tasks.map(graft.sources.OsmOut.readOsmFile)
      assert(parsed.forall { case (_, ws, rs) => ws.isEmpty && rs.isEmpty })
      val allNodes = parsed.flatMap(_._1)
      assert(allNodes.nonEmpty)
      assert(allNodes.exists(_.tags.get("addr:street").contains("Calle Mayor")),
        allNodes.flatMap(_.tags).distinct.mkString("; "))
      // reference -d report surface: source='address' carries address stats
      // only — no Buildings group in report.txt, no building keys in json
      val reportTxt = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/report.txt"))
      assert(!reportTxt.contains("=Buildings="), reportTxt)
      assert(reportTxt.contains("=Addresses="), reportTxt)
      val reportJson = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/report.json"))
      for (k <- Seq("inp_features", "out_features", "parts_to_outline",
          "inp_buildings", "out_buildings"))
        assert(!reportJson.contains("\"" + k + "\""), s"$k leaked: $reportJson")
      assert(reportJson.contains("\"out_address\""), reportJson)
    }
  }

  test("CadastralParcel layer drives the tiling when present (not synthesis)") {
    withTempDir("graft_cp") { tmp =>
      // the 38012 fixture family has 16 distinct refcats — enough parcels
      // for the parts-count pass to actually merge tiles in the control run
      def stage12(sub: String): String = {
        val d = tmp.resolve(sub).resolve("38012")
        java.nio.file.Files.createDirectories(d)
        Seq("building.gml", "buildingpart.gml").foreach { f =>
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(RefFixtures.fixture(f)), d.resolve(f))
        }
        d.toString
      }
      // control: no CP layer -> parcels synthesized from building outlines,
      // clustered together, so the parts-count pass merges nearby tiles
      val dir0 = stage12("control")
      assert(Main.run(Seq(dir0, "-b"),
        Main.Io(out = _ => (), err = _ => ()), () => spark) === 0)
      val t0 = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir0/tasks-b"))
        .toArray.map(_.toString).count(_.endsWith(".osm.gz"))
      // CP run: one parcel per refcat, squares planted 10 km apart — real
      // parcel geometry keeps every pair beyond parcel_dist, so the
      // parts-count merge cannot fire and strictly more task files emerge
      val dir = stage12("cp")
      val cons = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/building.gml"))
      val refs = "localId>([0-9A-Z]+)<".r.findAllMatchIn(cons)
        .map(m => graft.ops.ParcelOps.refOf(m.group(1))).toSeq.distinct
      assert(refs.size > 3, s"need several refs, got $refs")
      val members = refs.zipWithIndex.map { case (r, i) =>
        val x = 300000.0 + i * 10000.0
        s"""<gml:featureMember><cp:CadastralParcel gml:id="ES.SDGC.CP.$r">
           |<cp:inspireId><base:localId>$r</base:localId></cp:inspireId>
           |<cp:geometry><gml:MultiSurface><gml:surfaceMember><gml:Surface>
           |<gml:patches><gml:PolygonPatch><gml:exterior><gml:LinearRing>
           |<gml:posList>$x 3100000 ${x + 50} 3100000 ${x + 50} 3100050 $x 3100050 $x 3100000</gml:posList>
           |</gml:LinearRing></gml:exterior></gml:PolygonPatch></gml:patches>
           |</gml:Surface></gml:surfaceMember></gml:MultiSurface></cp:geometry>
           |</cp:CadastralParcel></gml:featureMember>""".stripMargin
      }.mkString("\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/38012.cadastralparcel.gml"),
        s"""<?xml version="1.0"?>\n<gml:FeatureCollection srsName="urn:ogc:def:crs:EPSG::32628">\n$members\n</gml:FeatureCollection>""")
      val out = scala.collection.mutable.ArrayBuffer[String]()
      assert(Main.run(Seq(dir, "-b"),
        Main.Io(out = out += _, err = out += _), () => spark) === 0,
        out.mkString("; "))
      val readLine = out.find(_.contains("parcels in")).getOrElse(fail(out.mkString("; ")))
      assert(readLine.contains(s"Read ${refs.size} parcels"), readLine)
      val t1 = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/tasks-b"))
        .toArray.map(_.toString).count(_.endsWith(".osm.gz"))
      assert(t1 > t0, s"layer parcels 10 km apart must suppress tile merges: $t1 vs $t0")
    }
  }

  test("-i writes info.json from the layers + ISO-19139 metadata") {
    withTempDir("graft_cli") { tmp =>
      val dir = stage(tmp)
      val md =
        """<?xml version="1.0" encoding="ISO-8859-1"?>
          |<gmd:MD_Metadata xmlns:gmd="http://www.isotc211.org/2005/gmd" xmlns:gco="http://www.isotc211.org/2005/gco">
          |<gmd:title><gco:CharacterString>Buildings of 38023-TAZ (foo bar)</gco:CharacterString></gmd:title>
          |<gmd:dateStamp><gco:Date>2017-02-25</gco:Date></gmd:dateStamp>
          |<gmd:code><gco:CharacterString>http://www.opengis.net/def/crs/EPSG/0/32628</gco:CharacterString></gmd:code>
          |</gmd:MD_Metadata>""".stripMargin
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/A.ES.SDGC.BU.MD.38023.xml"), md)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      assert(Main.run(Seq(dir, "-i"), Main.Io(out = out += _, err = out += _),
        () => spark) === 0, out.mkString("; "))
      val info = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/info.json"))
      assert(info.contains("\"cat_mun\": \"TAZ\""), info)
      assert(info.contains("\"building_date\": \"2017-02-25\""), info)
      assert("\"inp_features\": (\\d+)".r.findFirstMatchIn(info)
        .exists(_.group(1).toInt > 0), info)
      // info mode stops before processing: no tasks, no report
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/tasks")))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/report.txt")))
    }
  }

  test("bad directory names and missing layers exit non-zero") {
    withTempDir("graft_cli_e") { tmp =>
      val errs = scala.collection.mutable.ArrayBuffer[String]()
      val io = Main.Io(out = _ => (), err = errs += _)
      assert(Main.run(Seq("/tmp/not5digits"), io, () => spark) === 1)
      assert(errs.exists(_.contains("5 digits")))
      val empty = tmp.resolve("12345")
      Files.createDirectories(empty)
      assert(Main.run(Seq(empty.toString), io, () => spark) === 1)
      assert(errs.exists(_.contains("No building layer")))
    }
  }

  test("generate_municipalities writes the fuzzy-joined CSV") {
    withTempDir("graft_munis") { dir =>
      // head-sliced inputs: one province's worth keeps the spec fast
      def slice(name: String, prov: String, provCol: Int): Unit = {
        val lines = Files.readAllLines(Paths.get(RefFixtures.pkg(name))).stream
          .filter(l => l.nonEmpty &&
            (provCol < 0 || l.split("\t")(provCol).startsWith(prov)))
          .toArray.map(_.toString)
        Files.write(dir.resolve(name), java.util.Arrays.asList(lines: _*))
      }
      slice("municipalities-cat-ad.csv", "05", 0)
      slice("municipalities-ign-au.csv", "05", 0)
      slice("municipalities-old.csv", "05", 0)
      val out = dir.resolve("new.csv").toString
      val io = Main.Io(out = _ => (), err = s => fail(s))
      assert(Main.run(Seq("-x", out), io, () => spark) === 0)
      val got = Files.readAllLines(Paths.get(out))
      assert(got.size > 100 && got.stream.allMatch(_.split("\t").length === 3))
    }
  }
}
