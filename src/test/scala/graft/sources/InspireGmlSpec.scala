package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.RefFixtures

/** Replays the reference's own AddressLayer golden tests
  * (test/geo/layer/test_address.py:48-75) on its own address.gml fixture. */
class InspireGmlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  def path: String = RefFixtures.fixture("address.gml")

  test("reference golden: xlink resolve yields the documented ids (test_append)") {
    val first = InspireGml.resolvedAddresses(spark, path)
      .orderBy("localId").filter(col("localId") === "38.012.1.12.0295603CS6109N")
      .collect().head
    assert(first.getAs[String]("localId") === "38.012.1.12.0295603CS6109N")
    assert(first.getAs[String]("PD_id") === "ES.SDGC.PD.38.012.38570")
    assert(first.getAs[String]("TN_id") === "ES.SDGC.TN.38.012.1")
    assert(first.getAs[String]("AU_id") === "ES.SDGC.AU.38.012")
  }

  test("reference golden: join_field denormalizes TN/AU/PD (test_join_field)") {
    val first = InspireGml.resolvedAddresses(spark, path)
      .filter(col("localId") === "38.012.1.12.0295603CS6109N")
      .collect().head
    assert(first.getAs[String]("TN_text") === "MC ABASTOS (RESTO)")
    assert(first.getAs[String]("AU_text") === "FASNIA")
    assert(first.getAs[Int]("postCode") === 38570)
  }

  test("address classification: '.' without '_' and parcel key extraction") {
    import spark.implicits._
    val ids = InspireGml.addresses(spark, path)
      .select(col("localId"),
        element_at(split(element_at(split(col("localId"), "_"), 1), "\\."), -1).as("ref"))
      .as[(String, String)].collect()
    assert(ids.nonEmpty)
    ids.foreach { case (lid, ref) =>
      assert(lid.contains(".") && !lid.contains("_"))
      assert(lid.endsWith(ref) && ref.length === 14, s"$lid -> $ref")
    }
  }
}
