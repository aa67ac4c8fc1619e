package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Brute-force cosine top-k is the exact baseline (O(n²) pair dot products,
  * all in Catalyst higher-order functions → whole-stage codegen, no UDF).
  * The scale path is random-hyperplane LSH: a deterministic signature
  * restricts candidate pairs to shared buckets, turning the cross join into
  * a bucket equi-join — the same candidates-then-refine shape as the
  * spatial cell join.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated left-to-right in
    * double (deterministic order → reproducible bits). Native codegen
    * expression — the HOF formulation (aggregate∘zip_with) is semantically
    * identical but interpreted per element (CodegenFallback). */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotF32Expr.dotF32(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Per-vector top-k by (cos DESC, nbr_id ASC) over (vec_id, nbr_id, cos)
    * pairs: [[graft.ops.BottomK]] on priority −cos, so only ≤k rows per
    * (vector, partition) reach the exchange. Elements are (−cos, nbr_id,
    * cos) in rank order — the order a row_number window would give. */
  private def topKByCos(pairs: DataFrame, k: Int): Dataset[(Long, Seq[(Double, Long, Double)])] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.select(col("vec_id"), col("nbr_id"), -col("cos"), col("cos"))
      .as[(Long, Long, Double, Double)]
      .groupByKey(_._1)
      .agg(new graft.ops.BottomK[Long](k).toColumn)
  }

  /** (vec_id, nbr_id, cos) candidate pairs → (vec_id, rank, nbr_id). */
  private[sim] def topKPerVec(pairs: DataFrame, k: Int): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    topKByCos(pairs, k)
      .flatMap { case (vid, top) =>
        top.zipWithIndex.map { case ((_, nbr, _), i) => (vid, i + 1, nbr) }
      }
      .toDF("vec_id", "rank", "nbr_id")
  }

  /** Exact brute-force top-k cosine neighbors for every vector.
    * Output: (vec_id, rank, nbr_id). Blocked nested loop: Spark plans the
    * id-inequality cross join as BroadcastNestedLoopJoin when one side is
    * small; at scale, pre-bucket with lshBuckets and join on bucket. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    // norms are a per-vector invariant: computing them once on each input
    // side (instead of inside every pair's cosine) cuts the O(n²) pair work
    // to one dot product per pair — same bits, sqrt(dot(v,v)) either way
    val l = emb.select(col(idCol).as("vec_id"), col(vecCol).as("va"),
      norm(col(vecCol)).as("na"))
    val r = emb.select(col(idCol).as("nbr_id"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb"))
    val pairs = l.join(r, col("vec_id") =!= col("nbr_id"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
    topKPerVec(pairs, k)
  }

  // ---- exact top-k without all-pairs (blocked IVF + triangle pruning) ----

  /** Unit vector in double precision (‖u‖ = 1 to ~1e-15, so the bound math
    * below can use a tight epsilon). */
  private def unitD(v: Array[Float]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    val n = math.sqrt(s)
    val u = new Array[Double](v.length)
    i = 0
    while (i < v.length) { u(i) = if (n > 0) v(i) / n else 0.0; i += 1 }
    u
  }

  private def distToCentroid(u: Array[Double], c: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < u.length) { val t = u(i) - c(i); d += t * t; i += 1 }
    math.sqrt(d)
  }

  private def nearestListsDbl(
      u: Array[Double], cs: Array[Array[Double]], n: Int): Seq[Int] =
    cs.indices.map(c => (distToCentroid(u, cs(c)), c)).sorted.take(n).map(_._2)

  /** EXACT top-k cosine neighbors WITHOUT the all-pairs join — the scale
    * path for the exact semantics (bruteForceTopK stays as the small-n
    * oracle baseline). cos(a,b) maps to L2 distance on unit vectors
    * (d² = 2 − 2·cos), so exact cosine top-k is exact k-NN in normalized
    * space, where the triangle inequality prunes whole clusters:
    *
    *  1. partition unit vectors into nlist inverted lists (deterministic
    *     Lloyd, same machinery as ivfTopK); record each list's radius
    *     r_j = max ‖u − c_j‖ over members — the only driver-side state is
    *     the (nlist × dim) centroid matrix + nlist radii, same as ivfTopK;
    *  2. pass 1 scans the nprobe nearest lists per query → provisional
    *     top-k and the kth distance bound d_k (∞ when fewer than k
    *     candidates); only ≤k rows per query survive to the merge;
    *  3. pass 2 scans ONLY unprobed lists j with
    *     ‖u_q − c_j‖ − r_j ≤ d_k + ε: any neighbor that could still enter
    *     the top-k must live in such a list (triangle inequality), so the
    *     union of both passes is provably the exact answer. Candidate work
    *     per query is nprobe lists + the un-prunable tail instead of n.
    *
    * Pair cosine uses the identical DotF32 expression over the ORIGINAL
    * float arrays as bruteForceTopK — bit-identical scores, so ranking
    * (cos DESC, nbr ASC) matches brute force exactly, and the brute-force
    * SQL oracle gates this operator too. ε = 1e-9 covers double rounding
    * (unit vectors are normalized in double); it only ever ADDS clusters.
    */
  def exactTopK(
      emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 1,
      seedHash: Long => Long = mixSeedHash,
      probeAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
    val normedDf = vecs.map { case (id, v) =>
      (id, unitD(v).map(_.toFloat))
    }.toDF("id", "v")
    val centroids = kmeansCentroids(normedDf, "id", "v", nlist, iters, seedHash)
    val bC = spark.sparkContext.broadcast(centroids)
    // registered in CacheBin (drained by the session driver after its
    // terminal action), like every other operator-internal persist
    val assigned = graft.CacheBin.persist(
      vecs.map { case (id, v) =>
        val u = unitD(v)
        val lists = nearestListsDbl(u, bC.value, 1)
        (lists.head, id, v, distToCentroid(u, bC.value(lists.head)))
      }.toDF("list", "nbr_id", "vb", "dc")
        .withColumn("nb", norm(col("vb"))))
    val radii: Array[Double] = {
      val m = assigned.groupBy("list")
        .agg(max(col("dc")).as("r")).as[(Int, Double)].collect().toMap
      Array.tabulate(centroids.length)(j => m.getOrElse(j, 0.0))
    }
    val bR = spark.sparkContext.broadcast(radii)
    val lists = assigned.select(col("list"), col("nbr_id"), col("vb"), col("nb"))
    // pass 1: nprobe nearest lists per query
    val probes1 = vecs.flatMap { case (id, v) =>
      nearestListsDbl(unitD(v), bC.value, nprobe).map(c => (c, id, v))
    }.toDF("list", "vec_id", "va").withColumn("na", norm(col("va")))
    val pairs1 = probes1.join(lists, Seq("list"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .select(col("vec_id"), col("nbr_id"), col("cos"))
    val top1 = graft.CacheBin.persist(topKByCos(pairs1, k))
    val bounds = top1.map { case (id, s) =>
      (id, if (s.length < k) Double.MaxValue else 2.0 - 2.0 * s.last._3)
    }.toDF("vec_id", "dk2")
    val pairs1Top = top1.flatMap { case (id, s) =>
      s.map { case (_, n, c) => (id, n, c) }
    }.toDF("vec_id", "nbr_id", "cos")
    // pass 2: unprobed lists that can still beat the kth candidate
    val qinfo = vecs.toDF("vec_id", "va").join(bounds, Seq("vec_id"), "left")
    val probes2 = qinfo.as[(Long, Array[Float], Option[Double])]
      .flatMap { case (id, v, dk2Opt) =>
        val u = unitD(v)
        // clamp: a kth cosine that rounds above 1.0 gives dk2 < 0; sqrt
        // would be NaN and silently disable pass 2 (every comparison
        // false) — clamped to 0 it correctly means "only lists whose
        // bound is exactly reachable can still matter"
        val dk = math.sqrt(math.max(0.0, dk2Opt.getOrElse(Double.MaxValue)))
        val probed = nearestListsDbl(u, bC.value, nprobe).toSet
        val out = bC.value.indices.iterator
          .filterNot(probed)
          .filter(j => distToCentroid(u, bC.value(j)) - bR.value(j) <= dk + 1e-9)
          .map(j => (j, id, v)).toSeq
        // optional pruning diagnostic: pass-2 list probes actually emitted
        // (the spec pins this << n * (nlist - nprobe) on clustered data).
        // Accumulators in transformations are at-least-once — task retries
        // can only OVERCOUNT, so the spec's upper bound can false-alarm
        // but never false-pass (and local-mode test runs don't retry)
        probeAcc.foreach(_.add(out.size.toLong))
        out
      }.toDF("list", "vec_id", "va").withColumn("na", norm(col("va")))
    val pairs2 = probes2.join(lists, Seq("list"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .select(col("vec_id"), col("nbr_id"), col("cos"))
    topKPerVec(pairs1Top.unionByName(pairs2), k)
  }

  /** Deterministic random hyperplanes: nBits × dim, seeded (pure function of
    * (seed, bit, component) via splitmix — no RNG state). */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] =
    Array.tabulate(nBits, dim) { (b, d) =>
      var z = seed + b.toLong * 0x9E3779B97F4A7C15L + d.toLong * 0xBF58476D1CE4E5B9L
      z ^= z >>> 30; z *= 0xBF58476D1CE4E5B9L
      z ^= z >>> 27; z *= 0x94D049BB133111EBL
      z ^= z >>> 31
      // (z >>> 11) is uniform in [0, 2^53); divide by 2^52 for [0, 2) - 1 = [-1, 1)
      (z >>> 11).toDouble / (1L << 52).toDouble - 1.0
    }

  /** Sign-bit LSH bucket id from the hyperplane dots — Catalyst-only:
    * per-plane dot via aggregate over zip_with against an array literal. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      // float literals so the native dot_f32 kernel applies on both sides
      val planeCol = array(p.map(v => lit(v.toFloat)): _*)
      when(dot(vec, planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Deterministic Lloyd k-means for IVF coarse quantization — no RNG
    * state anywhere: initial centroids are the k vectors with the smallest
    * splitmix hash of their id (a deterministic pseudo-random sample), and
    * each iteration is one shuffle (posexplode → per-(cluster, component)
    * avg). Runs on the driver only for the tiny k×dim centroid matrix;
    * assignments stay distributed. */
  /** Default centroid-sampling hash (splitmix64 of the vector id). */
  def mixSeedHash(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** md5-derived sampling hash whose TOTAL ORDER an external SQL engine can
    * reproduce: DuckDB orders the raw md5 prefix as UBIGINT; flipping the
    * sign bit makes Spark's signed Long sort agree with that unsigned
    * order. Used by the oracle-gated IVF query. */
  def md5SeedHash(id: Long): Long =
    graft.dedup.Dedup.md5Hash64(id.toString) ^ Long.MinValue

  def kmeansCentroids(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3,
      seedHash: Long => Long = mixSeedHash): Array[Array[Double]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val seedRows = emb
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (seedHash(id), v) }
      .toDF("h", "v")
      .orderBy("h").limit(k)
      .select("v").as[Array[Float]].collect()
    var centroids = seedRows.map(_.map(_.toDouble))
    val vecs = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
    for (_ <- 0 until iters) {
      val bC = spark.sparkContext.broadcast(centroids)
      val next = vecs
        .map { case (_, v) => (nearestCentroid(v, bC.value)._1, v) }
        .flatMap { case (c, v) => v.indices.map(i => (c, i, v(i).toDouble)) }
        .toDF("c", "i", "x")
        .groupBy("c", "i").agg(avg("x").as("m"))
        .as[(Int, Int, Double)].collect()
      val byC = next.groupBy(_._1)
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        byC.get(c).map { rows =>
          val m = old.clone()
          rows.foreach { case (_, i, x) => m(i) = x }
          m
        }.getOrElse(old) // empty cluster keeps its centroid
      }
    }
    centroids
  }

  /** Nearest centroid by L2 (index, dist²); ties to the lower index. */
  def nearestCentroid(v: Array[Float], cs: Array[Array[Double]]): (Int, Double) = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      val cv = cs(c)
      while (i < v.length) { val t = v(i) - cv(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    (best, bestD)
  }

  /** The `nprobe` nearest centroid indices for a query vector. */
  def probeLists(v: Array[Float], cs: Array[Array[Double]], nprobe: Int): Seq[Int] =
    cs.indices.map { c =>
      var d = 0.0; var i = 0
      while (i < v.length) { val t = v(i) - cs(c)(i); d += t * t; i += 1 }
      (d, c)
    }.sorted.take(nprobe).map(_._2)

  /** IVF ANN (the k-means flavor of the scale path): vectors partition into
    * nlist inverted lists by nearest centroid; a query probes its nprobe
    * nearest lists and brute-forces only those — candidate work scales with
    * n·(nprobe/nlist) instead of n². The probe side explodes ×nprobe and
    * equi-joins the single-keyed list side, the same candidates-then-refine
    * shape as the spatial cell join. Deterministic end to end. */
  def ivfTopK(
      emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
      seedHash: Long => Long = mixSeedHash): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centroids = kmeansCentroids(emb, idCol, vecCol, nlist, iters, seedHash)
    val bC = spark.sparkContext.broadcast(centroids)
    val vecs = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
    val lists = vecs
      .map { case (id, v) => (nearestCentroid(v, bC.value)._1, id, v) }
      .toDF("list", "nbr_id", "vb")
      .withColumn("nb", norm(col("vb"))) // per-vector norm, once, pre-join
    val probes = vecs
      .flatMap { case (id, v) => probeLists(v, bC.value, nprobe).map(c => (c, id, v)) }
      .toDF("list", "vec_id", "va")
      .withColumn("na", norm(col("va")))
    val pairs = probes.join(lists, Seq("list"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
    topKPerVec(pairs.select("vec_id", "nbr_id", "cos").distinct(), k)
  }

  /** Persist the corpus IVF index for incremental similarity queries:
    * `<prefix>_lists` = (list, nbr_id, vb, nb) inverted-list membership
    * with the per-vector norm precomputed, bucketed+sorted by list id;
    * `<prefix>_centroids` = (list, c) the nlist centroid vectors. The
    * corpus-side k-means assignment and the bucketing shuffle are paid
    * ONCE here — at 10^12 vectors the lists table is corpus-sized, and
    * [[ivfProbeIndex]] reads it join-ready forever after, so a query
    * batch's cost never includes moving the corpus. */
  def writeIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
                    prefix: String, buckets: Int,
                    nlist: Int = 16, iters: Int = 3,
                    seedHash: Long => Long = mixSeedHash): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centroids = kmeansCentroids(emb, idCol, vecCol, nlist, iters, seedHash)
    val bC = spark.sparkContext.broadcast(centroids)
    val lists = emb
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (nearestCentroid(v, bC.value)._1, id, v) }
      .toDF("list", "nbr_id", "vb")
      .withColumn("nb", norm(col("vb")))
    graft.sources.Bucketed.writeBucketed(lists, s"${prefix}_lists", "list", buckets)
    graft.sources.Bucketed.writeBucketed(
      centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq.toDF("list", "c"),
      s"${prefix}_centroids", "list", 1)
  }

  /** ANN top-k for a QUERY BATCH against the persisted corpus index
    * ([[writeIvfIndex]]): each query explodes into its nprobe nearest
    * lists and equi-joins the bucketed lists table — zero exchange and
    * zero sort above the corpus-side scan (spec-asserted), so every
    * per-batch shuffle is probe-sized (batch × nprobe rows), flat in
    * corpus size. Driver state = the centroid matrix only, read back from
    * `<prefix>_centroids`. Identical ranking semantics to [[ivfTopK]]
    * restricted to the batch (same dot kernel, same (cos DESC, nbr_id)
    * total order). */
  def ivfProbeIndex(queries: DataFrame, idCol: String, vecCol: String,
                    prefix: String, k: Int, nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centroids = spark.table(s"${prefix}_centroids")
      .orderBy("list").select("c").as[Array[Double]].collect()
    val bC = spark.sparkContext.broadcast(centroids)
    val probes = queries
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) => probeLists(v, bC.value, nprobe).map(c => (c, id, v)) }
      .toDF("list", "vec_id", "va")
      .withColumn("na", norm(col("va")))
    val pairs = probes.join(spark.table(s"${prefix}_lists"), Seq("list"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
    topKPerVec(pairs.select("vec_id", "nbr_id", "cos").distinct(), k)
  }

  /** Embedding-cosine near-duplicate pairs: LSH sign buckets + Hamming-1
    * multiprobe generate candidates, a single pre-normed dot per pair
    * verifies cos >= threshold. Output (id_a < id_b) pairs. The candidate
    * set is a deterministic function of the hyperplanes (recall < 1 like
    * any LSH dedup, but reproducible — the oracle replays the buckets), and
    * per-bucket work is constant at any n via the same auto-nBits rule as
    * annTopK. */
  def embedNearDups(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nBits: Int = 0, targetBucket: Int = 64, nRows: Long = -1L,
      dim: Int = -1): DataFrame = {
    val bits =
      if (nBits > 0) nBits
      else {
        // callers that know their table size pass nRows and skip this action
        val n = if (nRows >= 0) nRows else emb.count()
        math.max(4, math.ceil(
          math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2)).toInt)
      }
    val dim0 = if (dim > 0) dim else emb.select(size(col(vecCol))).first().getInt(0)
    val planes = hyperplanes(bits, dim0)
    val withB = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("b", lshBucket(col("v"), planes))
      .withColumn("n", norm(col("v")))
    val masks = array((0L +: (0 until bits).map(i => 1L << i)).map(lit): _*)
    val probes = withB.select(
      col("id"), col("v"), col("n"), col("b"), explode(masks).as("mask"))
      .withColumn("pb", col("b").bitwiseXOR(col("mask")))
      .select(col("id").as("id_a"), col("v").as("va"), col("n").as("na"), col("pb"))
    val base = withB.select(col("id").as("id_b"), col("v").as("vb"),
      col("n").as("nb"), col("b").as("pb"))
    probes.join(base, Seq("pb"))
      .filter(col("id_a") < col("id_b")) // one direction; dedups the probe overlap too
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select("id_a", "id_b")
      .distinct()
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by cluster-then-compare — embeddings partition into
    * `nlist` clusters (the SAME deterministic IVF centroids as
    * [[ivfTopK]]), cosine is evaluated ONLY within a cluster, and one
    * representative (min id) survives per near-dup component. Returns the
    * REMOVED documents as (idCol, list).
    *
    * Scale shape: confining pairs to clusters cuts candidate work from n²
    * to n²/nlist, and nlist grows with the corpus (the paper used ~110k
    * clusters for LAION) so per-cluster width stays constant; the pair
    * step is an equi-join on `list` (AQE skew-split absorbs dense
    * clusters), verification is one pre-normed [[dot]] per pair — the
    * identical kernel as [[embedNearDups]], so thresholds behave the
    * same — and the removed docs are the star edges of the components
    * kernel over the pairs ([[graft.ops.Adjacency.componentStars]]).
    * Driver state is the centroid matrix only. */
  def semDeDup(emb: DataFrame, idCol: String, vecCol: String,
               threshold: Double, nlist: Int = 16, iters: Int = 0,
               seedHash: Long => Long = mixSeedHash): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centroids = kmeansCentroids(emb, idCol, vecCol, nlist, iters, seedHash)
    val bC = spark.sparkContext.broadcast(centroids)
    // read 3× (both pair sides + the losers' list lookup), so persist once
    val assigned = graft.CacheBin.persist(
      emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
        .as[(Long, Array[Float])]
        .map { case (id, v) => (nearestCentroid(v, bC.value)._1, id, v) }
        .toDF("list", "id", "v")
        .withColumn("nv", norm(col("v"))))
    val pairs = assigned
      .select(col("list"), col("id").as("id_a"), col("v").as("va"), col("nv").as("na"))
      .join(assigned.select(col("list"), col("id").as("id_b"),
        col("v").as("vb"), col("nv").as("nb")), Seq("list"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    // the component graph is the (tiny) near-dup graph, never the corpus:
    // its star edges are exactly the non-representative pair endpoints
    graft.ops.Adjacency.componentStars(pairs)._1
      .join(assigned.select(col("id").as("bid"), col("list")), "bid")
      .select(col("bid").as(idCol), col("list"))
  }

  /** IVF-style ANN: bucket by LSH signature, brute-force within bucket plus
    * neighbor buckets at Hamming distance 1 (probe lists). Returns candidate
    * top-k per vector; recall < 1 by construction (approximate path).
    *
    * nBits = 0 (default) AUTO-SCALES with the table: enough sign bits that
    * the expected bucket holds ~targetBucket vectors (nBits = max(4,
    * ceil(log2(n / targetBucket)))) — at 10^12 rows that is ~34 bits /
    * 2^34 buckets, keeping the per-bucket brute force constant instead of
    * letting buckets grow linearly with n. */
  def annTopK(
      emb: DataFrame, idCol: String, vecCol: String, k: Int, nBits: Int = 0,
      targetBucket: Int = 64, nRows: Long = -1L, dim: Int = -1): DataFrame = {
    val bits =
      if (nBits > 0) nBits
      else {
        // callers that know their table size pass nRows and skip this action
        val n = if (nRows >= 0) nRows else emb.count()
        math.max(4, math.ceil(
          math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2)).toInt)
      }
    val dim0 = if (dim > 0) dim else emb.select(size(col(vecCol))).first().getInt(0)
    val planes = hyperplanes(bits, dim0)
    val withB = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("b", lshBucket(col("v"), planes))
      .withColumn("n", norm(col("v"))) // per-vector norm, once, pre-join
    // multiprobe: each vector also probes buckets at Hamming distance 1
    // (mask 0 = own bucket, mask 1<<i = flip bit i)
    val masks = array((0L +: (0 until bits).map(i => 1L << i)).map(lit): _*)
    val probes = withB.select(
      col("vec_id"), col("v"), col("n"), col("b"), explode(masks).as("mask"))
      .withColumn("pb", col("b").bitwiseXOR(col("mask")))
      .select(col("vec_id"), col("v"), col("n"), col("pb"))
    val base = withB.select(col("vec_id").as("nbr_id"), col("v").as("vb"),
      col("n").as("nb"), col("b").as("pb"))
    val pairs = probes.join(base, Seq("pb"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("cos", dot(col("v"), col("vb")) / (col("n") * col("nb")))
    topKPerVec(pairs.select("vec_id", "nbr_id", "cos").distinct(), k)
  }
}
