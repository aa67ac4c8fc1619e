package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.geom.Geom
import graft.sources.Wkb
import ParcelOps.{ConsF, Parcel}

/** Replays the reference's ParcelLayer goldens (test/geo/layer/
  * test_parcel.py) on its own parcel.gpkg / cons.gpkg fixtures (converted
  * to WKB TSV; the WKB is parsed by the engine's own reader). */
class ParcelGoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val res = "src/test/resources/fixtures"

  def parcels: Seq[Parcel] = Wkb.readTsv(s"$res/parcel.tsv").map { case (a, g) =>
    Parcel(a("localId"), null, 0, g)
  }
  def cons: Seq[ConsF] = Wkb.readTsv(s"$res/cons_gpkg.tsv").map { case (a, g) =>
    val lid = a("localId")
    def i(k: String) = a.get(k).filter(_.nonEmpty)
      .flatMap(v => scala.util.Try(v.toDouble.toInt).toOption).getOrElse(0)
    ConsF(lid, ParcelOps.refOf(lid), ParcelOps.kindOf(lid),
      i("numberOfFloorsAboveGround"), i("numberOfFloorsBelowGround"), g)
  }

  test("fixtures load: 186 parcels, 722 cons features (test_parcel setUp)") {
    assert(parcels.length === 186)
    assert(cons.length === 722)
  }

  test("reference golden: delete_void_parcels -> 110") {
    import spark.implicits._
    val out = ParcelOps.deleteVoidParcels(
      spark.createDataset(parcels), spark.createDataset(cons))
    assert(out.count() === 110)
  }

  test("reference golden: create_missing_parcels -> 188, single-ring union") {
    import spark.implicits._
    val out = ParcelOps.createMissingParcels(
      spark.createDataset(parcels), spark.createDataset(cons)).collect()
    assert(out.length === 188)
    val p = out.find(_.localId == "8642317CS5284S").get
    assert(p.geometry.head.length === 1, "first part must have no holes")
  }

  test("reference golden: adjacency groups 21 / members 85") {
    import spark.implicits._
    val withMissing = ParcelOps.createMissingParcels(
      spark.createDataset(parcels), spark.createDataset(cons)).collect().toSeq
    val groups = ParcelOps.groupsByAdjacentBuildings(withMissing, cons, "38012")
    assert(groups.length === 21, s"groups: ${groups.length}")
    assert(groups.map(_.size).sum === 85, s"members: ${groups.map(_.size).sum}")
  }
}

/** The heavyweight chain goldens: the full ConsLayer preparation pipeline
  * (remove_outside_parts → explode → clean) feeding count_parts and
  * merge_by_adjacent_buildings (test_parcel.py:66-160). */
class ParcelChainGoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val res = "src/test/resources/fixtures"

  def parcels: Seq[Parcel] = Wkb.readTsv(s"$res/parcel.tsv").map { case (a, g) =>
    Parcel(a("localId"), null, 0, g)
  }
  lazy val prepared: Seq[ConsF] = ConsPrepare(spark, ConsPrepare.fixture)

  test("reference golden: count_parts after the full chain -> 324 total, 7/4 on refs") {
    import spark.implicits._
    val pcl1 = ParcelOps.deleteVoidParcels(
      spark.createDataset(parcels), spark.createDataset(prepared))
    val pcl2 = ParcelOps.createMissingParcels(pcl1, spark.createDataset(prepared))
    val counted = ParcelOps.countParts(pcl2, spark.createDataset(prepared)).collect()
    assert(counted.map(_.parts).sum === 324, s"sum=${counted.map(_.parts).sum}")
    val byId = counted.map(p => p.localId -> p.parts).toMap
    assert(byId("8840501CS5284S") === 7)
    assert(byId("8840502CS5284S") === 4)
  }

  test("reference golden: merge_by_adjacent_buildings -> 48 parcels, parts=11, 71 merged") {
    import spark.implicits._
    val pcl1 = ParcelOps.deleteVoidParcels(
      spark.createDataset(parcels), spark.createDataset(prepared))
    val pcl2 = ParcelOps.createMissingParcels(pcl1, spark.createDataset(prepared))
    val counted = ParcelOps.countParts(pcl2, spark.createDataset(prepared)).collect().toSeq
    val pca = counted.map(_.parts).sum
    val r = ParcelOps.mergeByAdjacentBuildings(counted, prepared, "38012")
    // parts conserved, feature count drops by the number of real merges
    assert(r.parcels.map(_.parts).sum === pca)
    val cl = r.tasks.count { case (k, v) => k != v }
    assert(r.parcels.length === counted.length - cl)
    val expected = Set(
      "001000300CS52D", "001000400CS52D", "8641608CS5284S", "8641612CS5284S",
      "8641613CS5284S", "8641616CS5284S", "8641620CS5284S", "8641621CS5284S",
      "8641632CS5284S", "8641636CS5284S", "8641638CS5284S", "8641649CS5284S",
      "8641653CS5284S", "8641658CS5284S", "8641660CS5284S", "8642302CS5284S",
      "8642310CS5284S", "8642312CS5284S", "8642313CS5284S", "8642314CS5284S",
      "8642317CS5284S", "8642321CS5284S", "8642325CS5484N", "8642701CS5284S",
      "8742701CS5284S", "8742707CS5284S", "8742711CS5284S", "8742721CS5284S",
      "8839301CS5283N", "8840501CS5284S", "8841602CS5284S", "8841603CS5284S",
      "8844121CS5284S", "8940301CS5284S", "8940302CS5284S", "8940305CS5284S",
      "8940306CS5284S", "8940307CS5284S", "8940309CS5284S", "8941505CS5284S",
      "9041703CS5294S", "9041704CS5294S", "9041705CS5294S", "9041716CS5294S",
      "9041719CS5294S", "9042401CS5294S", "9042402CS5294S", "9042404CS5294S")
    val got = r.parcels.map(_.localId).toSet
    assert(got === expected,
      s"missing=${expected -- got} extra=${got -- expected}")
    assert(r.parcels.find(_.localId == "8840501CS5284S").get.parts === 11)
    // building FEATURES (rows, like the reference's iteration) whose ref
    // vanished from parcels were merged: exactly 71
    val paRefs = got
    val merged = prepared.filter(_.kind == "building").map(_.ref)
      .filterNot(paRefs.contains)
    assert(merged.length === 71, s"merged=${merged.length}")
    assert(merged.forall(ref => r.tasks.get(ref).exists(_ != ref)))
  }
}

/** The 48-parcel tile golden driven through the DISTRIBUTED per-municipality
  * wrapper (groupByKey(mun) + cogroup around the golden-exact kernels):
  * same surviving-id set, same parts conservation, same relabel map as the
  * in-process kernel, with the municipality replicated under two keys to
  * prove group isolation. */
class DistributedMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val res = "src/test/resources/fixtures"

  lazy val (countedSeq, preparedSeq) = {
    import spark.implicits._
    val parcels = Wkb.readTsv(s"$res/parcel.tsv").map { case (a, g) =>
      Parcel(a("localId"), null, 0, g)
    }
    val prepared = ConsPrepare(spark, ConsPrepare.fixture)
    val pcl1 = ParcelOps.deleteVoidParcels(
      spark.createDataset(parcels), spark.createDataset(prepared))
    val pcl2 = ParcelOps.createMissingParcels(pcl1, spark.createDataset(prepared))
    (ParcelOps.countParts(pcl2, spark.createDataset(prepared)).collect().toSeq, prepared)
  }

  test("48-parcel golden through mergeByAdjacentBuildingsByMun, two replicated muns") {
    import spark.implicits._
    val muns = Seq("38012", "99999") // same municipality twice: groups must not mix
    val mp = spark.createDataset(for {
      m <- muns; (p, i) <- countedSeq.zipWithIndex
    } yield ParcelOps.MunParcel(m, i.toLong, p))
    val mc = spark.createDataset(for {
      m <- muns; c <- preparedSeq
    } yield ParcelOps.MunCons(m, c))
    val rows = ParcelOps.mergeByAdjacentBuildingsByMun(mp, mc).collect()
    val expected = ParcelOps.mergeByAdjacentBuildings(countedSeq, preparedSeq, "38012")
    for (m <- muns) {
      val ps = rows.filter(r => r.mun == m && r.parcel != null).map(_.parcel)
      assert(ps.length === 48)
      assert(ps.map(_.localId).toSet === expected.parcels.map(_.localId).toSet)
      assert(ps.map(_.parts).sum === expected.parcels.map(_.parts).sum)
      assert(ps.find(_.localId == "8840501CS5284S").get.parts === 11)
      val tasks = rows.filter(r => r.mun == m && r.taskFrom != null)
        .map(r => r.taskFrom -> r.taskTo).toMap
      assert(tasks === expected.tasks)
    }
  }

  test("mergeByPartsCountByMun matches the in-process kernel") {
    import spark.implicits._
    val merged = ParcelOps.mergeByAdjacentBuildings(countedSeq, preparedSeq, "38012").parcels
    val mp = spark.createDataset(
      merged.zipWithIndex.map { case (p, i) => ParcelOps.MunParcel("38012", i.toLong, p) })
    val rows = ParcelOps.mergeByPartsCountByMun(mp, 20, 30.0).collect()
    val expected = ParcelOps.mergeByPartsCount(merged, 20, 30.0, "38012")
    val ps = rows.filter(_.parcel != null).map(_.parcel)
    // ordered rows reproduce the kernel's post-merge layer order exactly
    assert(ps.sortBy(_.localId).map(p => (p.localId, p.parts)).toSeq ===
      expected.parcels.sortBy(_.localId).map(p => (p.localId, p.parts)))
    val tasks = rows.filter(_.taskFrom != null).map(r => r.taskFrom -> r.taskTo).toMap
    assert(tasks === expected.tasks)
  }
}

/** Replays test_get_groups_by_parts_count + test_merge_by_parts_count
  * (test_parcel.py:160-213): the distance-greedy packing goldens after the
  * full chain and adjacency merge. */
class PartsCountGoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val res = "src/test/resources/fixtures"

  lazy val merged: Seq[Parcel] = {
    import spark.implicits._
    val parcels = Wkb.readTsv(s"$res/parcel.tsv").map { case (a, g) =>
      Parcel(a("localId"), null, 0, g)
    }
    val prepared = ConsPrepare(spark, ConsPrepare.fixture)
    val pcl1 = ParcelOps.deleteVoidParcels(
      spark.createDataset(parcels), spark.createDataset(prepared))
    val pcl2 = ParcelOps.createMissingParcels(pcl1, spark.createDataset(prepared))
    val counted = ParcelOps.countParts(pcl2, spark.createDataset(prepared)).collect().toSeq
    ParcelOps.mergeByAdjacentBuildings(counted, prepared, "38012").parcels
  }

  test("reference golden: groups_by_parts_count(10, 100) -> 48 parcels, 18 groups, laws") {
    assert(merged.length === 48)
    val groups = ParcelOps.groupsByPartsCount(merged, 10, 100.0, "38012")
    assert(groups.length === 18, s"groups=${groups.length}")
    val partsOf = merged.map(p => p.localId -> p.parts).toMap
    assert(groups.forall(g => g.map(partsOf).sum <= 10)) // cap law
    def zone(lid: String) = ParcelOps.zoneOf(lid, "38012")
    assert(groups.forall(g => g.map(zone).distinct.size === 1)) // single zone
  }

  test("reference golden: merge_by_parts_count(20, 30) conserves parts and counts") {
    val pca = merged.map(_.parts).sum
    val r = ParcelOps.mergeByPartsCount(merged, 20, 30.0, "38012")
    assert(r.parcels.map(_.parts).sum === pca)
    val cl = r.tasks.count { case (k, v) => k != v }
    assert(r.parcels.length === merged.length - cl)
  }
}
