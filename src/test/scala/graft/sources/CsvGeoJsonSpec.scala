package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.spatial.SynthGeo

class CsvGeoJsonSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("tab-delimited dict round-trips (csvtools semantics)") {
    TestSpark.withTempDir("graft-csv") { tmp =>
      val dir = tmp.toString + "/dict"
      val dict = Map("CL MAYOR" -> "Calle Mayor", "AV DEL SOL" -> "Avenida del Sol")
      CsvGeoJson.writeDict(spark, dict, dir)
      assert(CsvGeoJson.readDict(spark, dir) === dict)
    }
  }

  test("zones export as parseable GeoJSON features with closed rings") {
    import spark.implicits._
    val features = CsvGeoJson.zonesToGeoJson(spark, SynthGeo.zones)
      .as[String].collect()
    assert(features.length === SynthGeo.zones.size)
    features.foreach { f =>
      assert(f.contains(""""type":"Feature""""))
      assert(f.contains(""""type":"MultiPolygon""""))
    }
    // ring closure: first == last coordinate pair in the json arrays
    val first = features.head
    val coords = "\\[\\[\\[\\[(.*?)\\]\\]\\]\\]".r.findFirstMatchIn(first).get.group(1)
    val pts = coords.split("\\],\\[").map(_.replaceAll("[\\[\\]]", ""))
    assert(pts.head === pts.last)
  }
}
