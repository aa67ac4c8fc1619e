package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance near-duplicate self-join with a LOSSLESS segment filter
  * (PassJoin, Li/Deng/Wang/Feng 2011): every pair within Levenshtein
  * distance `tau` is guaranteed to surface as a candidate, then exact
  * banded verification keeps only true pairs.
  *
  * This closes the dedup family's edit-distance gap: exact / MinHash /
  * SimHash / n-gram-Jaccard / embedding dedup all ship; the reference's own
  * fuzzy layer is levenshtein-based (hgwnames.py:49-96 dsmatch), but there
  * it is an argmin against a SMALL name table — here the same metric runs
  * corpus×corpus without the quadratic candidate set.
  *
  * Filter (pigeonhole): partition each string into tau+1 contiguous
  * segments. tau edits cannot touch all tau+1 segments, so if
  * edit(s1,s2) <= tau at least one segment of s1 occurs VERBATIM in s2,
  * start-shifted by at most the indel balance before it. Tight position
  * window: a shift s needs |s| edits before the segment and |Δlen − s|
  * after it, so only shifts with |s| + |Δlen − s| <= tau are enumerated
  * (the multi-match-aware window — (tau+1)·(tau−|Δlen|+1) probe substrings
  * per candidate length instead of (tau+1)·(2tau+1)).
  *
  * 100 TB shape: per-string replication is a CONSTANT — tau+1 index rows
  * and Σ_Δlen (tau+1)(tau−|Δlen|+1) ≈ (tau+1)² probe rows (tau=6: 7 vs
  * ~343) — and (l1, i, segment-hash) folds into ONE 8-byte key, so the
  * candidate join is a single-long equi-join whose exchange is
  * corpus-linear at 16 bytes/row. Hash collisions only ADD candidates;
  * the exact verify discards them, so the key never needs oracle parity.
  * Candidates are distinct'd on the 8-byte id pair ALONE (texts re-attach
  * by id afterwards — the SimHash r4 lesson: never drag payloads through
  * the widest exchange). Boilerplate segments (hot keys) are capped by
  * `maxBucket` with a left_anti against the aggregated hot-key set
  * ([[Dedup.overCap]]) — the same non-broadcast skew guard as the MinHash
  * index. The segment
  * parameter table is derived from DISTINCT observed lengths (bounded by
  * the corpus length cap, not the corpus) and broadcast, so the corpus
  * side stays one codegen scan per role (index / probe).
  */
object EditDedup {

  /** Segment boundaries for a length-`l` string split into tau+1 pieces:
    * first pieces get floor(l/(tau+1)) chars, the last l%(tau+1) pieces one
    * extra — (start, width) per segment, 0-based. Requires l >= tau+1. */
  def segments(l: Int, tau: Int): Seq[(Int, Int)] = {
    val k = tau + 1
    val q = l / k
    val r = l % k
    val widths = Seq.tabulate(k)(i => if (i >= k - r) q + 1 else q)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** Valid start shifts for segment matching between an indexed length l1
    * and a probe length l2: |s| edits must fit before the segment and
    * |Δlen − s| after it. */
  def shifts(l1: Int, l2: Int, tau: Int): Seq[Int] = {
    val d = l2 - l1
    (-tau to tau).filter(s => math.abs(s) + math.abs(d - s) <= tau)
  }

  /** All pairs (id_a < id_b, d = levenshtein <= tau) over `docs`.
    * Output: (id_a, id_b, d). Strings shorter than tau+1 chars pair
    * trivially (levenshtein <= max length <= tau) via a short-set self
    * join; everything else goes through the segment filter. */
  def nearDups(docs: DataFrame, idCol: String, textCol: String,
               tau: Int, maxBucket: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(tau >= 1, s"tau must be >= 1, got $tau")

    val base = graft.CacheBin.persist(docs.select(
      col(idCol).cast("long").as("id"), col(textCol).as("txt"),
      length(col(textCol)).cast("int").as("len")))

    // bounded by the length domain (doc-length caps at ingest), never by
    // corpus size — safe to distinct + broadcast
    val lens = base.select($"len").distinct().as[Int]

    val idxParams = lens.filter(_ >= tau + 1).flatMap { l =>
      segments(l, tau).zipWithIndex.map { case ((p, w), i) => (l, i, p, w) }
    }.toDF("len", "i", "p", "w")

    val prbParams = lens.flatMap { l2 =>
      for {
        l1 <- (l2 - tau) to (l2 + tau)
        if l1 >= tau + 1
        ((p1, w), i) <- segments(l1, tau).zipWithIndex
        s <- shifts(l1, l2, tau)
        p2 = p1 + s
        if p2 >= 0 && p2 + w <= l2
      } yield (l2, l1, i, p2, w)
    }.toDF("len", "l1", "i", "p", "w")

    // (l1, i, segment-hash) folded into ONE 8-byte key — the MinHash
    // band-key idiom (Dedup.minhashBandKeys): the odd-constant multiply is
    // a bijection of the segment hash, so equal (l1, i, segment) triples
    // always collide onto the same key (no recall loss) and a cross-group
    // collision can only ADD a candidate, which exact verification
    // discards. Halves the exchange row width vs a 3-column key and keeps
    // the join sort on a single long.
    def segKey(l1: Column): Column =
      xxhash64(expr("substring(txt, p + 1, w)")) * lit(0x9E3779B97F4A7C15L) +
        (l1.cast("long") * lit(64L) + $"i")

    val idxRows = base.join(broadcast(idxParams), "len")
      .select($"id", segKey($"len").as("k"))
    val prbRows = base.join(broadcast(prbParams), "len")
      .select($"id", segKey($"l1").as("k"))

    // skew cap: boilerplate segments shared by > maxBucket index rows are
    // dropped from BOTH roles (lossy, documented)
    val hot = Dedup.overCap(idxRows, "k", maxBucket)
    val idxOk = idxRows.join(hot, Seq("k"), "left_anti")
    val prbOk = prbRows.join(hot, Seq("k"), "left_anti")

    val segCand = idxOk.as("a")
      .join(prbOk.as("b"), $"a.k" === $"b.k" && $"a.id" =!= $"b.id")
      .select(least($"a.id", $"b.id").as("id_a"),
        greatest($"a.id", $"b.id").as("id_b"))

    val shorts = base.filter($"len" <= tau).select("id")
    val shortCand = shorts.as("a")
      .join(shorts.as("b"), $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"))

    // ids only through the widest exchange; texts re-attach after distinct
    val cand = segCand.unionByName(shortCand).distinct()

    cand
      .join(base.select($"id".as("id_a"), $"txt".as("txt_a")), "id_a")
      .join(base.select($"id".as("id_b"), $"txt".as("txt_b")), "id_b")
      // banded DP: -1 when the distance exceeds tau
      .withColumn("d", levenshtein($"txt_a", $"txt_b", tau).cast("long"))
      .filter($"d" >= 0)
      .select("id_a", "id_b", "d")
  }
}
