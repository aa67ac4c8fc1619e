package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.RefFixtures

/** Replays test_catatom.test_is_empty and test_csvtools'
  * search_mun/filter_prov on the reference's own fixtures. */
class CatatomToolsSpec extends AnyFunSuite {

  test("is_empty: empty.gml/empty.zip are empty, building.gml is not") {
    assert(CsvGeoJson.isEmptyGml(RefFixtures.fixture("empty.gml")))
    assert(CsvGeoJson.isEmptyGml(RefFixtures.fixture("empty.zip")))
    assert(!CsvGeoJson.isEmptyGml(RefFixtures.fixture("building.gml")))
  }

  test("csvtools.search: the 05001 municipality row (test_search_mun)") {
    val row = CsvGeoJson.searchRow(RefFixtures.fixture("municipalities.csv"))(_(0) == "05001")
    assert(row.map(_.toSeq) === Some(Seq("05001", "339910", "Adanero")))
  }

  test("csvtools.filter: province 02 has exactly 87 rows (test_filter_prov)") {
    val rows = CsvGeoJson.filterRows(RefFixtures.fixture("municipalities.csv"))(_(0).startsWith("02"))
    assert(rows.length === 87)
    assert(rows.forall(_(0).startsWith("02")))
  }
}
