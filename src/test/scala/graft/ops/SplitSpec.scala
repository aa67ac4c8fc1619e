package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.geom.{Geom, Pt}
import graft.RefFixtures

/** The -s split boundary filter over the reference's own split fixtures
  * (test/fixtures/split{1,2,3}.geojson) + triangulation/clip laws. */
class SplitSpec extends AnyFunSuite {

  test("split1 (2 Polygons) and split2 (1 MultiPolygon) are the same shape") {
    val s1 = Split.read(RefFixtures.fixture("split1.geojson"))
    val s2 = Split.read(RefFixtures.fixture("split2.geojson"))
    assert(s1.length === 2 && s2.length === 2) // multipolygon explodes to 2
    def areas(ps: Seq[Split.SplitPoly]) =
      ps.map(p => Geom.ringArea(p.outer)).sorted
    assert(areas(s1).zip(areas(s2)).forall { case (a, b) => math.abs(a - b) < 1e-6 })
    assert(s1.forall(_.holes.isEmpty))
  }

  test("signed-fan clip is exact on the concave split rings (self-identity)") {
    for (p <- Split.read(RefFixtures.fixture("split1.geojson"))) {
      val area = Geom.ringArea(p.outer)
      assert(math.abs(Geom.clipAreaSimple(p.outer, p.outer) - area) < 1e-6 * area)
      // against a bbox superset: full area; against a disjoint box: zero
      val xs = p.outer.map(_.x); val ys = p.outer.map(_.y)
      val bbox = Array(Pt(xs.min - 1, ys.min - 1), Pt(xs.max + 1, ys.min - 1),
        Pt(xs.max + 1, ys.max + 1), Pt(xs.min - 1, ys.max + 1))
      assert(math.abs(Geom.clipAreaSimple(bbox, p.outer) - area) < 1e-6 * area)
    }
  }

  test("clipAreaSimple: identity, disjoint, containment on a concave ring") {
    val concave = Array(Pt(0, 0), Pt(4, 0), Pt(4, 4), Pt(2, 2), Pt(0, 4)) // dart
    val area = Geom.ringArea(concave) // 16 - 4 = 12
    assert(math.abs(area - 12.0) < 1e-12)
    assert(math.abs(Geom.clipAreaSimple(concave, concave) - area) < 1e-9)
    val far = Array(Pt(100, 100), Pt(101, 100), Pt(101, 101), Pt(100, 101))
    assert(Geom.clipAreaSimple(far, concave) === 0.0)
    val box = Array(Pt(-1, -1), Pt(5, -1), Pt(5, 5), Pt(-1, 5))
    assert(math.abs(Geom.clipAreaSimple(concave, box) - area) < 1e-9)
    // the dart's notch: a unit square sitting in the concavity overlaps 0
    val notch = Array(Pt(1.5, 2.5), Pt(2.5, 2.5), Pt(2.5, 3.5), Pt(1.5, 3.5))
    assert(Geom.clipAreaSimple(notch, concave) < 1e-9)
  }

  test("keep: >=50% rule against the real split1 boundary") {
    val polys = Split.read(RefFixtures.fixture("split1.geojson"))
    val b = polys.head.outer
    val cx = b.map(_.x).sum / b.length
    val cy = b.map(_.y).sum / b.length
    def square(x: Double, y: Double, r: Double): Geom.MultiPolygon =
      Array(Array(Array(Pt(x - r, y - r), Pt(x + r, y - r), Pt(x + r, y + r), Pt(x - r, y + r))))
    assert(Split.keep(square(cx, cy, 5), polys), "centroid square is inside")
    assert(!Split.keep(square(cx + 10000, cy, 5), polys), "10 km away is out")
    // straddling the west edge: half in, half out -> ratio 0.5 boundary
    val xmin = b.map(_.x).min
    val edgeY = b.filter(p => math.abs(p.x - xmin) < 60).map(_.y)
    val my = edgeY.sum / edgeY.length
    val in = Split.keep(square(xmin + 6, my, 5), polys)
    val out = Split.keep(square(xmin - 6, my, 5), polys)
    assert(in && !out)
  }

  test("polygon holes subtract from the overlap (donut boundary)") {
    graft.TestSpark.withTempDir("graft_split") { dir =>
      val gj = """{"type":"FeatureCollection","features":[
      {"type":"Feature","properties":{},"geometry":{"type":"Polygon","coordinates":
       [[[0,0],[100,0],[100,100],[0,100],[0,0]],
        [[40,40],[60,40],[60,60],[40,60],[40,40]]]}}]}"""
      java.nio.file.Files.writeString(dir.resolve("donut.geojson"), gj)
      val polys = Split.read(dir.resolve("donut.geojson").toString)
      assert(polys.head.holes.length === 1)
      def square(x: Double, y: Double, r: Double): Geom.MultiPolygon =
        Array(Array(Array(Pt(x - r, y - r), Pt(x + r, y - r), Pt(x + r, y + r), Pt(x - r, y + r))))
      assert(Split.keep(square(20, 20, 5), polys), "solid part of the donut")
      assert(!Split.keep(square(50, 50, 5), polys), "entirely inside the hole")
      // half-over-the-hole-edge square: 50% in the ring -> boundary keeps
      assert(math.abs(Split.overlapArea(square(40, 50, 5), polys.head) - 50.0) < 1e-9)
    }
  }

  test("subject holes count: holey parcel near the 50% line") {
    graft.TestSpark.withTempDir("graft_split_h") { dir =>
      // boundary = left half-plane square [0,100]x[0,100]; subject = square
      // [50-30, 50+30] with a hole [60,80]x[20,80] entirely on the RIGHT
      // (outside) side. Outer overlap = 30*60=1800 of outer 3600 (exactly
      // 50%); the hole (20*60=1200, all outside) shrinks the true area to
      // 2400 with overlap still 1800 -> 75%, comfortably kept. Counting
      // outer rings only would score it at exactly 50% — this subject nudged
      // 1 unit right would then flip wrongly.
      val gj = """{"type":"FeatureCollection","features":[
      {"type":"Feature","properties":{},"geometry":{"type":"Polygon","coordinates":
       [[[0,0],[100,0],[100,100],[0,100],[0,0]]]}}]}"""
      java.nio.file.Files.writeString(dir.resolve("b.geojson"), gj)
      val polys = Split.read(dir.resolve("b.geojson").toString)
      def subj(shift: Double): Geom.MultiPolygon = Array(Array(
        Array(Pt(70 + shift, 20), Pt(130 + shift, 20), Pt(130 + shift, 80), Pt(70 + shift, 80)),
        Array(Pt(110 + shift, 20), Pt(130 + shift, 20), Pt(130 + shift, 80), Pt(110 + shift, 80))))
      // outer-only ratio = (100-70-shift)*60/3600; hole-subtracted ratio =
      // same overlap / 2400
      assert(Split.keep(subj(0), polys), "hole-subtracted ratio 75% keeps")
      assert(Split.keep(subj(5), polys), "outer-only would score 41% and drop")
      assert(!Split.keep(subj(25), polys), "only 12.5% truly inside")
    }
  }

  test("split polygon strictly inside the subject is NOT a keep") {
    graft.TestSpark.withTempDir("graft_split_i") { dir =>
      // reference is_inside_area: contains(g1) and overlaps(g1) both False
      // when the split polygon nests inside the feature -> False, even
      // though the inner polygon covers >=50% of the subject's area
      val gj = """{"type":"FeatureCollection","features":[
      {"type":"Feature","properties":{},"geometry":{"type":"Polygon","coordinates":
       [[[10,10],[90,10],[90,90],[10,90],[10,10]]]}}]}"""
      java.nio.file.Files.writeString(dir.resolve("inner.geojson"), gj)
      val polys = Split.read(dir.resolve("inner.geojson").toString)
      val big: Geom.MultiPolygon = Array(Array(
        Array(Pt(0, 0), Pt(100, 0), Pt(100, 100), Pt(0, 100))))
      assert(!Split.keep(big, polys),
        "inner boundary covers 64% but the reference returns False")
      // the same boundary KEEPS a subject it genuinely overlaps >=50%
      val half: Geom.MultiPolygon = Array(Array(
        Array(Pt(5, 20), Pt(60, 20), Pt(60, 80), Pt(5, 80))))
      assert(Split.keep(half, polys))
    }
  }

  test("filterD runs the rule distributed") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val polys = Split.read(RefFixtures.fixture("split1.geojson"))
    val b = polys.head.outer
    val cx = b.map(_.x).sum / b.length
    val cy = b.map(_.y).sum / b.length
    val rows = Seq(("in", cx, cy), ("out", cx + 10000.0, cy))
    val ds = spark.createDataset(rows)
    val kept = Split.filterD[(String, Double, Double)](ds, polys,
      t => Array(Array(Array(
        Pt(t._2 - 5, t._3 - 5), Pt(t._2 + 5, t._3 - 5),
        Pt(t._2 + 5, t._3 + 5), Pt(t._2 - 5, t._3 + 5)))))
      .collect().map(_._1)
    assert(kept.toSeq === Seq("in"))
  }
}
