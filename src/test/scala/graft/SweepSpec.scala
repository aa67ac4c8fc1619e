package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The sweep harness without a sweep: every family body runs once at a
  * tiny n in the shared session under two parallelism settings (its own
  * `require`s must hold and its check must not move), and the pure report
  * step is checked on fixed timings. `pipeline` is covered by
  * AppRunMultiSpec and `calib` checks nothing. */
class SweepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private lazy val bytes = Scale.shuffleCounter(spark)

  private val tiny: Seq[(String, Long)] = Seq(
    "flagship" -> 1L, "cc_incr" -> 300L, "crawl" -> 4000L,
    "dbscan" -> 1000L, "dbscan_hotspot" -> 200L, "dbscan_variants" -> 150L,
    "dedup" -> 1L, "edit" -> 400L, "geo_incr" -> 300L, "graph" -> 2000L,
    "graph_fam" -> 200L, "hex" -> 20000L, "incremental" -> 1L, "s2" -> 20000L,
    "simhash" -> 1L, "sketch" -> 20000L, "temporal" -> 20000L,
    "temporal_kernel" -> 20000L, "text" -> 500L, "web_clean" -> 500L)

  private def runBody(name: String, cores: Int, n: Long): Sweep.Point = {
    val m = new Sweep.Meter(spark, bytes, TestSpark.sf001)
    try {
      val out = Sweep.families(name).body(spark, cores, n, m)
      Sweep.Point(cores, n, m.phases, out)
    } finally CacheBin.drain()
  }

  test("every family but pipeline and calib has a tiny size here") {
    assert(tiny.map(_._1).toSet == Sweep.families.keySet - "pipeline" - "calib")
  }

  tiny.foreach { case (name, n) =>
    test(s"$name: same check at 1 core / 1 partition and 4 cores / 8 partitions") {
      val one = TestSpark.withConf("spark.sql.shuffle.partitions" -> "1")(runBody(name, 1, n))
      val four = TestSpark.withConf(TestSpark.eightPartitions: _*)(runBody(name, 4, n))
      assert(one.phases.nonEmpty && four.phases.map(_.name) == one.phases.map(_.name))
      assert(one.out.units == four.out.units)
      assert(one.out.check == four.out.check)
    }
  }

  private def pt(cores: Int, n: Long, sec: Double, units: Long, check: Long) =
    Sweep.Point(cores, n, Seq(Sweep.Phase("a", sec / 4, 0.5), Sweep.Phase("b", sec * 3 / 4, 1.0)),
      Sweep.Out(units, Seq("checksum" -> check), Seq("ratio" -> Double.NaN)))

  test("report: a drifting check fails in strong mode and is allowed in weak mode") {
    val pts = Seq(pt(8, 100, 2.0, 100, 7), pt(32, 100, 1.0, 100, 8))
    val e = intercept[IllegalArgumentException](Sweep.report("f", weak = false, pts))
    assert(e.getMessage.contains("f: check drifted"))
    assert(Sweep.report("f", weak = true, pts).startsWith("{"))
  }

  test("report: exact efficiencies, and the line parses as JSON") {
    val json = new ObjectMapper()
    // strong: thr 50 at 8 cores, 100 at 32 → (100 / 50) / 4
    val strong = json.readTree(Sweep.report("f", weak = false,
      Seq(pt(8, 100, 2.0, 100, 7), pt(32, 100, 1.0, 100, 7))))
    assert(strong.get("family").asText == "f" && strong.get("mode").asText == "strong")
    assert(strong.get("eff_8_to_32").asDouble == 0.5)
    val p0 = strong.get("points").get(0)
    assert(p0.get("sec").asDouble == 2.0 && p0.get("a_sec").asDouble == 0.5)
    assert(p0.get("shuffle_mb").asDouble == 1.5 && p0.get("units_per_sec").asLong == 50)
    assert(p0.get("check").get("checksum").asLong == 7 && p0.get("ratio").isNull)
    // weak, 10 per core: thr 80 at 8 cores, 256 at 32 → (256 / 80) / 4
    val weak = json.readTree(Sweep.report("f", weak = true,
      Seq(pt(8, 80, 1.0, 80, 1), pt(32, 320, 1.25, 320, 2))))
    assert(weak.get("eff_8_to_32").asDouble == 0.8)
    // size sweep: one eff per n over consecutive levels
    val sized = json.readTree(Sweep.report("f", weak = false,
      Seq(pt(2, 10, 1.0, 10, 3), pt(4, 10, 1.0, 10, 3), pt(8, 10, 0.25, 10, 3),
        pt(2, 20, 2.0, 20, 3), pt(4, 20, 1.0, 20, 3))))
    assert(sized.get("eff_2_to_4_n10").asDouble == 0.5)
    assert(sized.get("eff_4_to_8_n10").asDouble == 2.0)
    assert(sized.get("eff_2_to_4_n20").asDouble == 1.0)
    assert(!sized.has("eff_2_to_8_n10") && !sized.has("eff_2_to_4"))
  }
}
