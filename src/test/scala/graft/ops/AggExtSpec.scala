package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.geom.{Geom, Pt}

class GeomUnionAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def sq(x0: Double, y0: Double, s: Double = 10.0): Array[Pt] =
    Array(Pt(x0, y0), Pt(x0 + s, y0), Pt(x0 + s, y0 + s), Pt(x0, y0 + s))

  test("typed Aggregator unions adjacent rings per group (map-side safe)") {
    import spark.implicits._
    val rows = Seq(
      (0L, sq(0, 0)), (0L, sq(10, 0)), (0L, sq(20, 0)),
      (1L, sq(100, 0)), (1L, sq(110, 0)))
    val ds = spark.createDataset(rows).repartition(4) // force partial merges
    val unions = ds.groupByKey(_._1).mapValues(_._2)
      .agg(new GeomUnionAgg().toColumn.name("rings"))
      .collect().toMap
    val areas = unions.view.mapValues(r => r.map(Geom.ringArea).sum).toMap
    assert(math.abs(areas(0L) - 300.0) < 1e-9)
    assert(math.abs(areas(1L) - 200.0) < 1e-9)
    // simplified boundary of each union is a rectangle
    unions.values.foreach { rings =>
      assert(rings.length === 1)
      assert(graft.clean.PolygonClean.simplifyRing(rings.head).length === 4)
    }
  }
}

class ExtensionsSpec extends AnyFunSuite {
  test("native expressions are callable from SQL via GraftExtensions") {
    // register into the shared session (same builders the
    // SparkSessionExtensions path injects at session build)
    val s = TestSpark.spark
    graft.GraftExtensions.register(s);
    {
      val pip = s.sql(
        """SELECT point_in_polygon(0.5D, 0.5D,
          |  array(named_struct('ax', 0D, 'ay', 0D, 'bx', 1D, 'by', 0D),
          |        named_struct('ax', 1D, 'ay', 0D, 'bx', 1D, 'by', 1D),
          |        named_struct('ax', 1D, 'ay', 1D, 'bx', 0D, 'by', 1D),
          |        named_struct('ax', 0D, 'ay', 1D, 'bx', 0D, 'by', 0D))) AS inside""".stripMargin)
        .collect().head.getBoolean(0)
      assert(pip)
      val dot = s.sql(
        "SELECT dot_f32(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
        .collect().head.getDouble(0)
      assert(dot === 11.0)
      val sig = s.sql("SELECT minhash_sig(array('a b c', 'b c d'), 8) AS s")
        .collect().head.getSeq[Long](0)
      assert(sig.length === 8)
      val hex = s.sql("SELECT hex_cell(50.0D, 50.0D, 2.5D) AS c")
        .collect().head.getLong(0)
      assert(hex === graft.spatial.HexGrid.cellOf(50.0, 50.0, 2.5))
    }
  }
}

class OsmMergeResolveSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("mergeDuplicated collapses coordinate-equal nodes, merging tags") {
    import spark.implicits._
    val nodes = Seq(
      (-1L, 1.0, 2.0, Map("a" -> "1")),
      (-2L, 1.0, 2.0, Map("a" -> "x", "b" -> "2")), // dup coord; loses 'a'
      (-3L, 5.0, 5.0, Map("c" -> "3")))
      .toDF("osm_id", "x", "y", "tags")
    val merged = graft.sources.OsmOut.mergeDuplicated(nodes)
      .as[(Long, Double, Double, Map[String, String])].collect()
      .map(t => (t._1, t._4)).toMap
    assert(merged.keySet === Set(-1L, -3L))
    assert(merged(-1L) === Map("a" -> "1", "b" -> "2"))
  }

  test("resolveWays joins node refs into ordered geometry, counts dangling") {
    import spark.implicits._
    val nodes = Seq((-1L, 0.0, 0.0, Map.empty[String, String]),
      (-2L, 1.0, 0.0, Map.empty[String, String]),
      (-3L, 1.0, 1.0, Map.empty[String, String]))
      .toDF("osm_id", "x", "y", "tags")
    val ways = Seq((10L, Seq(-1L, -2L, -3L)), (11L, Seq(-3L, -99L, -1L)))
      .toDF("way_id", "nd_refs")
    val out = graft.sources.OsmOut.resolveWays(ways, nodes).collect()
      .map(r => r.getAs[Long]("way_id") ->
        (r.getAs[Seq[org.apache.spark.sql.Row]]("geometry").map(p =>
          (p.getDouble(0), p.getDouble(1))), r.getAs[Long]("n_dangling"))).toMap
    assert(out(10L)._1 === Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0)))
    assert(out(10L)._2 === 0L)
    assert(out(11L)._1 === Seq((1.0, 1.0), (0.0, 0.0))) // -99 dropped
    assert(out(11L)._2 === 1L)
  }
}

class TranslateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import graft.text.Translate

  test("addressTags: street vs place decision, padded postcode, entrance") {
    import spark.implicits._
    val df = Seq(
      ("Calle Mayor", "12", 7005, "xx.1.38.0123456789ABCD", true),
      ("Barrio Nuevo", "3", 35001, "yy.2.38.0123456789CDEF", false))
      .toDF("street", "num", "pc", "localId", "ent")
    val got = df.select(Translate.renderTags(Translate.addressTags(
      col("street"), col("num"), col("pc"), col("localId"), col("ent"))).as("t"))
      .as[String].collect()
    assert(got(0) ===
      "addr:housenumber=12|addr:postcode=07005|addr:street=Calle Mayor|entrance=yes|ref=0123456789ABCD")
    assert(got(1) ===
      "addr:housenumber=3|addr:place=Barrio Nuevo|addr:postcode=35001|ref=0123456789CDEF")
  }

  test("buildingTags: decision table + part roof rule + levels") {
    import spark.implicits._
    val df = Seq(
      ("functional", "1_residential", 3, 1, false),
      ("ruin", "1_residential", 2, 0, false),
      ("functional", "2_agriculture", 0, 0, true))
      .toDF("cond", "use", "above", "below", "part")
    val got = df.select(Translate.renderTags(Translate.buildingTags(
      col("cond"), col("use"), col("above"), col("below"), col("part"))).as("t"))
      .as[String].collect()
    assert(got(0) === "building:levels:underground=1|building:levels=3|building=residential")
    assert(got(1) === "building:levels=2|building=ruins") // levels survive ruin
    assert(got(2) === "building:part=roof")
  }

  test("allTags: keys sorted, every field cast to string, a null field stays null") {
    import spark.implicits._
    val df = Seq((7L, 2.5, "Calle Mayor"), (8L, 0.25, null)).toDF("n", "d", "s")
    val got = df.select(Translate.allTags(
        Map("s" -> col("s"), "n" -> col("n"), "d" -> col("d"))).as("t"))
      .select(map_keys(col("t")), map_values(col("t")))
      .as[(Seq[String], Seq[String])].collect()
    assert(got(0) === ((Seq("d", "n", "s"), Seq("2.5", "7", "Calle Mayor"))))
    assert(got(1) === ((Seq("d", "n", "s"), Seq("0.25", "8", null))))
  }
}
