package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Replays the reference's own test_get_metadata golden
  * (test/test_catatom.py:39-66,123-131): the ISO-19139 metadata fixture
  * must yield src_date 2017-02-25, cat_mun TAZ, crs_ref 32628. */
class MetadataSpec extends AnyFunSuite {

  private val metadata =
    """<?xml version="1.0" encoding="ISO-8859-1"?>
      |<gmd:MD_Metadata xmlns:gmd="http://www.isotc211.org/2005/gmd" xmlns:gco="http://www.isotc211.org/2005/gco">
      |    <gmd:title>
      |        <gco:CharacterString>Buildings of 38001-TAZ (foo bar)</gco:CharacterString>
      |    </gmd:title>
      |	<gmd:dateStamp>
      |		<gco:Date>2017-02-25</gco:Date>
      |	</gmd:dateStamp>
      |    <gmd:code>
      |        <gco:CharacterString>http://www.opengis.net/def/crs/EPSG/0/32628</gco:CharacterString>
      |    </gmd:code>
      |</gmd:MD_Metadata>
      |""".stripMargin

  test("reference golden: src_date / cat_mun / crs_ref") {
    graft.TestSpark.withTempDir("graft_md") { dir =>
      val p = dir.resolve("A.ES.SDGC.BU.MD.38001.xml")
      java.nio.file.Files.write(p,
        metadata.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      val got = CadastreGml.getMetadata(p.toString)
      assert(got === Right(("2017-02-25", "TAZ", 32628)))
    }
  }

  test("metadata reads from inside the downloaded archive (zip! member)") {
    graft.TestSpark.withTempDir("graft_mdzip") { dir =>
      val zipPath = dir.resolve("A.ES.SDGC.BU.38001.zip")
      val zip = new java.util.zip.ZipOutputStream(
        java.nio.file.Files.newOutputStream(zipPath))
      try {
        zip.putNextEntry(new java.util.zip.ZipEntry("A.ES.SDGC.BU.MD.38001.xml"))
        zip.write(metadata.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
        zip.closeEntry()
      } finally zip.close()
      val got = CadastreGml.getMetadata(s"$zipPath!A.ES.SDGC.BU.MD.38001.xml")
      assert(got === Right(("2017-02-25", "TAZ", 32628)))
    }
  }

  test("a dateStamp without gco:Date is an error, not stolen text") {
    graft.TestSpark.withTempDir("graft_md_dt") { dir =>
      // valid ISO-19139 can carry gco:DateTime here; the reference's
      // find('gmd:dateStamp/gco:Date') returns None and raises — an
      // unbounded regex would instead capture the title's CharacterString
      val xml = metadata.replace("<gco:Date>2017-02-25</gco:Date>",
        "<gco:DateTime>2017-02-25T00:00:00</gco:DateTime>")
      val p = dir.resolve("dt.xml")
      java.nio.file.Files.writeString(p, xml)
      assert(CadastreGml.getMetadata(p.toString).isLeft)
    }
  }

  test("cadastralParcels: curve-encoded exterior yields empty outer, odd posList survives") {
    graft.TestSpark.withTempDir("graft_cp_curve") { dir =>
      val gml =
        """<gml:FeatureCollection>
          |<cp:CadastralParcel gml:id="x"><base:localId>REF1</base:localId>
          |<gml:PolygonPatch>
          |<gml:exterior><gml:Ring><gml:curveMember/></gml:Ring></gml:exterior>
          |<gml:interior><gml:LinearRing><gml:posList>1 1 2 1 2 2 1 2 1 1</gml:posList></gml:LinearRing></gml:interior>
          |</gml:PolygonPatch>
          |</cp:CadastralParcel>
          |<cp:CadastralParcel gml:id="y"><base:localId>REF2</base:localId>
          |<gml:PolygonPatch>
          |<gml:exterior><gml:LinearRing><gml:posList>0 0 4 0 4 4 0 4 0 0 7</gml:posList></gml:LinearRing></gml:exterior>
          |</gml:PolygonPatch>
          |</cp:CadastralParcel>
          |</gml:FeatureCollection>""".stripMargin
      val p = dir.resolve("cp.gml")
      java.nio.file.Files.writeString(p, gml)
      val got = InspireGml.cadastralParcels(p.toString)
      assert(got.map(_._1) === Seq("REF1", "REF2"))
      // REF1: the interior's coordinates must NOT become the outer ring
      assert(got(0)._2.head.head.isEmpty, "curve exterior -> empty outer")
      assert(got(0)._2.head.length === 2 && got(0)._2.head(1).length === 4)
      // REF2: the trailing odd coordinate is dropped, not a crash
      assert(got(1)._2.head.head.length === 4)
    }
  }

  test("missing fields raise the CatIOError message, like the reference") {
    graft.TestSpark.withTempDir("graft_md_e") { dir =>
      val p = dir.resolve("empty.xml")
      java.nio.file.Files.writeString(p, "<gmd:MD_Metadata></gmd:MD_Metadata>")
      val got = CadastreGml.getMetadata(p.toString)
      assert(got.isLeft && got.swap.toOption.get.contains("Could not read metadata"))
      assert(CadastreGml.getMetadata(s"$dir/nope.xml").isLeft)
    }
  }
}
