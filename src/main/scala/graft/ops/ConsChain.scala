package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.clean.{DeleteInvalid, Feature, Simplify, Topology}
import graft.geom.{Geom, Pt}
import ParcelOps.ConsF

/** The ConsLayer preparation chain the reference runs before tiling
  * (test_parcel.py:66-70): remove_outside_parts → explode_multi_parts →
  * clean() [delete_invalid(small only for non-parts) → topology →
  * merge_building_parts → simplify → delete_small]. Each stage delegates to
  * the engine's distributed operators; levels use -1 for NULL so the
  * reference's NULL-vs-0 comparisons hold.
  */
object ConsChain {

  /** remove_outside_parts (cons.py:139-173). Duplicate building rows
    * (sources storing one row per polygon part) resolve LAST-ROW-WINS, the
    * reference's dict-build behavior — and the behavior its 324-part golden
    * anchors to. */
  def removeOutsideParts(cons: Seq[ConsF]): Seq[ConsF] = {
    val buildings = cons.filter(_.kind == "building").map(b => b.localId -> b).toMap
    cons.filterNot { f =>
      f.kind == "part" && (
        (f.levAbove == 0 && f.levBelow != 0 && f.levBelow != -1) ||
          (buildings.contains(f.ref) &&
            !BuildingParts.isInside(f.geometry, buildings(f.ref).geometry)))
    }
  }

  /** explode_multi_parts (polygon.py:51-84): one feature per polygon part. */
  def explode(cons: Seq[ConsF]): Seq[ConsF] =
    cons.flatMap(f => f.geometry.toSeq.map(p => f.copy(geometry = Array(p))))

  /** delete_invalid_geometries with the ConsLayer query (small-area rules
    * apply only to non-part features). */
  def deleteInvalid(spark: SparkSession, cons: Seq[ConsF]): Seq[ConsF] = {
    val results = cons.map { f =>
      (f, DeleteInvalid.cleanFeature(f.geometry, querySmall = f.kind != "part"))
    }
    val moves = results.flatMap(_._2.moves).toMap
    results.flatMap { case (f, r) =>
      r.geometry.map(g => f.copy(geometry = DeleteInvalid.applyMoves(g, moves)))
    }
  }

  /** topology over the outer rings of every part, holes passed through.
    * Ring keys use a data-derived width (max parts per feature), so no
    * fixed cap can crash on a legitimately large multipolygon. */
  def topology(spark: SparkSession, cons: Seq[ConsF]): Seq[ConsF] = {
    import spark.implicits._
    val indexed = cons.zipWithIndex
    val w = math.max(1L, cons.iterator.map(_.geometry.length.toLong).maxOption.getOrElse(1L))
    val feats = indexed.flatMap { case (f, i) =>
      f.geometry.toSeq.zipWithIndex.map { case (poly, pi) =>
        Feature(i.toLong * w + pi, poly.head)
      }
    }
    val repaired = Topology.repair(spark.createDataset(feats))
      .collect().map(f => f.fid -> f.ring).toMap
    indexed.map { case (f, i) =>
      f.copy(geometry = f.geometry.zipWithIndex.map { case (poly, pi) =>
        repaired.getOrElse(i.toLong * w + pi, poly.head) +: poly.tail
      })
    }
  }

  /** shared-vertex simplify over all rings (data-derived key widths). */
  def simplify(spark: SparkSession, cons: Seq[ConsF]): Seq[ConsF] = {
    import spark.implicits._
    val indexed = cons.zipWithIndex
    val wp = math.max(1L, cons.iterator.map(_.geometry.length.toLong).maxOption.getOrElse(1L))
    val wr = math.max(1L, cons.iterator.flatMap(_.geometry.iterator.map(_.length.toLong))
      .maxOption.getOrElse(1L))
    val feats = indexed.flatMap { case (f, i) =>
      f.geometry.toSeq.zipWithIndex.flatMap { case (poly, pi) =>
        poly.toSeq.zipWithIndex.map { case (ring, ri) =>
          Feature((i.toLong * wp + pi) * wr + ri, ring)
        }
      }
    }
    val out = Simplify.simplifyShared(spark.createDataset(feats))
      .collect().map(f => f.fid -> f.ring).toMap
    indexed.map { case (f, i) =>
      f.copy(geometry = f.geometry.zipWithIndex.map { case (poly, pi) =>
        poly.zipWithIndex.map { case (ring, ri) =>
          out.getOrElse((i.toLong * wp + pi) * wr + ri, ring)
        }
      })
    }
  }

  /** merge_building_parts via the faithful cogroup operator. */
  def mergeParts(spark: SparkSession, cons: Seq[ConsF]): Seq[ConsF] = {
    import spark.implicits._
    val rows = cons.zipWithIndex.map { case (f, i) =>
      BuildingParts.ConsRow(s"${f.localId}#$i", f.ref, f.kind,
        math.max(0, f.levAbove), math.max(0, f.levBelow), 0, "", f.geometry)
    }
    val merged = BuildingParts.mergeBuildingParts(spark.createDataset(rows)).collect()
    merged.map { r =>
      ConsF(r.localId.split("#")(0), r.ref, r.kind, r.levAbove, r.levBelow, r.geometry)
    }.toSeq
  }

  def deleteSmall(cons: Seq[ConsF]): Seq[ConsF] =
    cons.filter(f => Geom.area(f.geometry) >= Geom.MinArea)

  /** The full reference chain. */
  def prepare(spark: SparkSession, cons: Seq[ConsF]): Seq[ConsF] = {
    val a = removeOutsideParts(cons)
    val b = explode(a)
    val c = deleteInvalid(spark, b)
    val d = topology(spark, c)
    val e = mergeParts(spark, d)
    val f = simplify(spark, e)
    deleteSmall(f)
  }

  // ------------------------------------------------------------------
  // Fully-distributed chain: the same stages end-to-end in Dataset land,
  // with NO driver-side Seq bridging. Stage shapes:
  //   remove_outside  = left join parts ⨝ buildings on the building id
  //   explode         = flatMap
  //   delete_invalid  = map + broadcast of the (spike-bounded) moves map
  //   topology        = Topology.repair's vertex/segment cell shuffles over
  //                     ALL features at once (municipalities never share
  //                     coordinates, so one global pass is correct)
  //   merge_parts     = BuildingParts.mergeBuildingParts (ref cogroup)
  //   simplify        = Simplify.simplifyShared vertex shuffle
  // Row identity is a global rank assigned ONCE over a deterministic sort
  // key, so ring⇄feature joins reproduce at any parallelism (SURVEY §7.4).
  // ------------------------------------------------------------------

  final case class FidCons(fid: Long, f: ConsF)

  // ---- composable distributed stages (AppRun counts between them) ----

  /** remove_outside_parts (cons.py:139-173), distributed: duplicate
    * building ids resolve LAST-ROW-WINS (max fid), the reference's
    * dict-build behavior. */
  def removeOutsidePartsD(consOrdered: Dataset[FidCons]): Dataset[FidCons] = {
    val spark = consOrdered.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val parts = consOrdered.filter(_.f.kind == "part")
    val others = consOrdered.filter(_.f.kind != "part")
    val bGeom = consOrdered.filter(_.f.kind == "building")
      .groupByKey(_.f.localId)
      .reduceGroups((a, b) => if (a.fid > b.fid) a else b)
      .map { case (bid, fc) => (bid, fc.f.geometry) }
      .toDF("bid", "bgeom")
    val keptParts = parts.toDF().as("p")
      .join(bGeom.as("b"), col("p.f.ref") === col("b.bid"), "left")
      .select(col("p.fid"), col("p.f"), col("b.bid"), col("b.bgeom"))
      .as[(Long, ConsF, String, Geom.MultiPolygon)]
      .filter { case (_, f, bid, bg) =>
        !(f.levAbove == 0 && f.levBelow != 0 && f.levBelow != -1) &&
          (bid == null || BuildingParts.isInside(f.geometry, bg))
      }
      .map { case (fid, f, _, _) => FidCons(fid, f) }
    others.union(keptParts)
  }

  /** explode_multi_parts, distributed. The child-fid width is derived from
    * the DATA (max parts per feature, one cheap max-aggregate job), so the
    * encoding is collision-free for any input — no fixed cap that a large
    * cadastre multipolygon could crash (a 10^12-row layer with fid < 2^40
    * and even 2^20-part monsters stays far below Long overflow, which the
    * require guards as a pure sanity bound). */
  def explodeD(kept: Dataset[FidCons]): Dataset[FidCons] = {
    val spark = kept.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{abs, coalesce, col, lit, max, size}
    val bounds = kept.select(
      coalesce(max(size(col("f.geometry"))), lit(1)).as("w"),
      coalesce(max(abs(col("fid"))), lit(0L)).as("maxFid")).head()
    val w = math.max(1L, bounds.getInt(0).toLong)
    val maxFid = bounds.getLong(1)
    require(maxFid <= Long.MaxValue / w - w,
      s"explode fid encoding would overflow Long (maxFid=$maxFid width=$w)")
    kept.flatMap { case FidCons(fid, f) =>
      f.geometry.toSeq.zipWithIndex.map { case (poly, pi) =>
        FidCons(fid * w + pi, f.copy(geometry = Array(poly)))
      }
    }
  }

  /** delete_invalid_geometries, distributed end-to-end: the layer-wide
    * moved-vertex propagation is a vertex-keyed join
    * (DeleteInvalid.perFeatureMoves), NOT a driver collect — runMulti
    * unions every municipality through this stage, so driver memory must
    * stay flat in total corpus spike count. */
  def deleteInvalidD(exploded: Dataset[FidCons]): Dataset[FidCons] = {
    val spark = exploded.sparkSession
    import spark.implicits._
    val cleanedRaw = graft.CacheBin.persist(exploded.map { fc =>
      val r = DeleteInvalid.cleanFeature(fc.f.geometry, querySmall = fc.f.kind != "part")
      (fc.fid, fc.f, r.geometry, r.moves.toSeq)
    })
    val perFid = DeleteInvalid.perFeatureMoves(
      cleanedRaw.map { case (fid, _, g, mv) => (fid, g, mv) })
    cleanedRaw.map { case (fid, f, g, _) => (fid, f, g) }.toDF("fid", "f", "g")
      .join(perFid, Seq("fid"), "left")
      .as[(Long, ConsF, Option[Geom.MultiPolygon], Option[Array[(Double, Double, Double, Double)]])]
      .flatMap { case (fid, f, g, mvOpt) =>
        val m = mvOpt.getOrElse(Array.empty)
          .map(t => Pt(t._1, t._2) -> Pt(t._3, t._4)).toMap
        g.map(mp => FidCons(fid, f.copy(geometry = DeleteInvalid.applyMoves(mp, m))))
      }
  }

  /** topology over outer rings (holes pass through), distributed. */
  def topologyD(cleaned: Dataset[FidCons]): Dataset[FidCons] = {
    val spark = cleaned.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val topoIn = cleaned.map(fc => Feature(fc.fid, fc.f.geometry.head.head))
    val repaired = Topology.repair(topoIn).map(f => (f.fid, f.ring)).toDF("fid", "ring")
    cleaned.toDF().as("c")
      .join(repaired.as("r"), col("c.fid") === col("r.fid"))
      .select(col("c.fid"), col("c.f"), col("r.ring"))
      .as[(Long, ConsF, Array[Pt])]
      .map { case (fid, f, ring) =>
        FidCons(fid, f.copy(geometry = Array(ring +: f.geometry.head.tail)))
      }
  }

  /** merge_building_parts (ref cogroup; unique row ids via fid), distributed. */
  def mergePartsD(afterTopo: Dataset[FidCons]): Dataset[FidCons] = {
    val spark = afterTopo.sparkSession
    import spark.implicits._
    val mergeIn = afterTopo.map { fc =>
      BuildingParts.ConsRow(s"${fc.f.localId}#${fc.fid}", fc.f.ref, fc.f.kind,
        math.max(0, fc.f.levAbove), math.max(0, fc.f.levBelow), 0, "", fc.f.geometry)
    }
    BuildingParts.mergeBuildingParts(mergeIn).map { r =>
      val Array(lid, fid) = r.localId.split("#")
      FidCons(fid.toLong, ConsF(lid, r.ref, r.kind, r.levAbove, r.levBelow, r.geometry))
    }
  }

  /** shared-vertex simplify over every ring, distributed. Ring-key widths
    * are data-derived (max polys per feature × max rings per poly) — no
    * fixed cap, same collision-free encoding argument as explodeD. */
  def simplifyD(merged: Dataset[FidCons]): Dataset[FidCons] = {
    val spark = merged.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val bounds = merged.map { fc =>
      (fc.f.geometry.length.toLong,
        fc.f.geometry.iterator.map(_.length.toLong).maxOption.getOrElse(1L),
        math.abs(fc.fid))
    }.toDF("np", "nr", "afid")
      .select(
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.max(col("np")),
          org.apache.spark.sql.functions.lit(1L)),
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.max(col("nr")),
          org.apache.spark.sql.functions.lit(1L)),
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.max(col("afid")),
          org.apache.spark.sql.functions.lit(0L)))
      .head()
    val wp = math.max(1L, bounds.getLong(0))
    val wr = math.max(1L, bounds.getLong(1))
    require(bounds.getLong(2) <= Long.MaxValue / (wp * wr) - wp * wr,
      s"simplify ring-key encoding would overflow Long (wp=$wp wr=$wr)")
    val simpIn = merged.flatMap { fc =>
      fc.f.geometry.toSeq.zipWithIndex.flatMap { case (poly, pi) =>
        poly.toSeq.zipWithIndex.map { case (ring, ri) =>
          Feature((fc.fid * wp + pi) * wr + ri, ring)
        }
      }
    }
    val simplified = Simplify.simplifyShared(simpIn)
      .map(f => (f.fid / (wp * wr), ((f.fid / wr) % wp).toInt, (f.fid % wr).toInt, f.ring))
      .toDF("fid", "pi", "ri", "ring")
    merged.toDF().as("m")
      .join(simplified.as("s"), col("m.fid") === col("s.fid"))
      .select(col("m.fid"), col("m.f"), col("s.pi"), col("s.ri"), col("s.ring"))
      .as[(Long, ConsF, Int, Int, Array[Pt])]
      .groupByKey(_._1)
      .mapGroups { (fid, it) =>
        val rows = it.toSeq
        val f = rows.head._2
        val byIdx = rows.map(r => (r._3, r._4) -> r._5).toMap
        FidCons(fid, f.copy(geometry = f.geometry.zipWithIndex.map { case (poly, pi) =>
          poly.zipWithIndex.map { case (ring, ri) => byIdx.getOrElse((pi, ri), ring) }
        }))
      }
  }

  def deleteSmallD(rebuilt: Dataset[FidCons]): Dataset[FidCons] =
    rebuilt.filter(fc => Geom.area(fc.f.geometry) >= Geom.MinArea)

  /** prepare(), distributed, with caller-assigned input order (fid =
    * position in layer order): semantically equal to the Seq chain — set
    * equality spec on the reference fixture. */
  def prepareDistributedOrdered(consOrdered: Dataset[FidCons]): Dataset[ConsF] = {
    val spark = consOrdered.sparkSession
    import spark.implicits._
    // persist the two stages whose outputs feed a bounds-aggregate job AND
    // the stage transform itself (explodeD/simplifyD derive key widths from
    // the data), so neither input recomputes
    val kept = removeOutsidePartsD(consOrdered).persist()
    val merged = mergePartsD(topologyD(deleteInvalidD(explodeD(kept)))).persist()
    val out = deleteSmallD(simplifyD(merged)).map(_.f)
    out
  }
}
