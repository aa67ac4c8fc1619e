package graft.sources

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.withTempDir

class GmlTextSpec extends AnyFunSuite {

  private def mkZip(f: Path, entries: (String, Array[Byte])*): String = {
    val zip = new java.util.zip.ZipOutputStream(Files.newOutputStream(f))
    try entries.foreach { case (name, bytes) =>
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(bytes); zip.closeEntry()
    } finally zip.close()
    f.toString
  }

  test("bang path selects the entry by suffix (get_path_from_zip semantics)") {
    withTempDir("graft_gmltext") { dir =>
      val z = mkZip(dir.resolve("a.zip"),
        "sub/A.ES.SDGC.BU.38023.building.gml" -> "<building/>".getBytes("UTF-8"),
        "sub/A.ES.SDGC.BU.38023.buildingpart.gml" -> "<part/>".getBytes("UTF-8"))
      assert(GmlText.load(s"$z!A.ES.SDGC.BU.38023.building.gml") === "<building/>")
      assert(GmlText.load(s"$z!A.ES.SDGC.BU.38023.buildingpart.gml") === "<part/>")
      assert(GmlText.exists(s"$z!A.ES.SDGC.BU.38023.building.gml"))
      assert(!GmlText.exists(s"$z!missing.gml"))
      intercept[java.io.IOException](GmlText.load(s"$z!missing.gml"))
    }
  }

  test("bare .zip loads its single gml entry; .gz gunzips") {
    withTempDir("graft_gmltext") { dir =>
      val z = mkZip(dir.resolve("a.zip"), "A.ES.SDGC.AD.38023.gml" -> "<ad/>".getBytes("UTF-8"))
      assert(GmlText.load(z) === "<ad/>")
      val gz = dir.resolve("a.gml.gz")
      val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
      out.write("<zipped/>".getBytes("UTF-8")); out.close()
      assert(GmlText.load(gz.toString) === "<zipped/>")
    }
  }

  test("non-UTF-8 bytes fall back to ISO-8859-1 (fix_encoding semantics)") {
    withTempDir("graft_gmltext") { dir =>
      // 'Peñíscola' in latin-1: ñ = 0xF1, í = 0xED — invalid as UTF-8
      val latin = "<n>Peñíscola</n>".getBytes("ISO-8859-1")
      val f = dir.resolve("latin.gml")
      Files.write(f, latin)
      assert(GmlText.load(f.toString) === "<n>Peñíscola</n>")
      // valid UTF-8 stays UTF-8
      val utf = dir.resolve("utf.gml")
      Files.write(utf, "<n>Peñíscola</n>".getBytes("UTF-8"))
      assert(GmlText.load(utf.toString) === "<n>Peñíscola</n>")
    }
  }
}
