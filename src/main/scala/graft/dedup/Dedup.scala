package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
import scala.collection.mutable

/** Deduplication operators for the documents/pages table.
  *
  * The reference's dedup is Osm.merge_duplicated — group elements by a
  * canonical geometry key and keep one representative (catatom2osm/osm.py:
  * 87-104, 410-418). Generalized here to web-corpus dedup: exact (canonical
  * key groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard — the
  * standard training-data pipeline suite.
  *
  * Scale notes: everything is expressed as Catalyst column math + explode +
  * shuffle-on-key. MinHash signatures come from one native expression
  * (MinHashSigHashedExpr), NOT per-permutation UDF calls, so the whole
  * signature stage stays in codegen. The LSH band join shuffles only
  * (band key, doc_id) pairs — constant width regardless of doc
  * size — and the candidate self-join is per-bucket, so hot buckets (boiler-
  * plate shingles) are the skew risk: bucket width is capped upstream by
  * one count filter ([[Dedup.underCap]]), shared by every band, segment
  * and fingerprint join.
  */
object Dedup {

  /** Exact dedup: canonical key -> min(id) representative + group size. */
  def exactDedup(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("k"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Corpus dedup SELECTION: given near-dup PAIRS (from any generator —
    * exact Jaccard, MinHash, SimHash, embedding LSH), keep exactly ONE
    * representative per duplicate cluster — the minimum id, deterministic
    * at any parallelism — plus every unpaired document. Near-duplication
    * is not transitive, so the selection closes the pairs into connected
    * components first ([[graft.ops.Adjacency.componentStars]], the same
    * kernel as the geometry adjacency groups): a per-partition union-find
    * over the canonical pairs, then alternating-star rounds only while the
    * edge set is not yet a star forest. Duplicate clusters are small, so a
    * near-dup graph that fits one partition takes zero rounds.
    *
    * The kernel's converged star edges are exactly the non-representative
    * pair endpoints (every non-root vertex, with its root), so they are
    * the loser set as they stand. A doc outside every pair can never lose,
    * and the corpus pays exactly ONE join — a left_anti against the
    * (small) loser set. Output: one (idCol) row per survivor.
    *
    * PRECONDITION: every pair endpoint must be an id present in `docs` —
    * true by construction for every pair generator in this engine (they
    * all derive pairs from the same frame). An endpoint OUTSIDE `docs`
    * would join clusters through a phantom bridge or steal a cluster's
    * min-id so that the cluster loses every present member. Callers
    * holding pairs that may have outlived an upstream filter (a stale
    * pair table) must pass validatePairs = true, which drops any pair
    * with a missing endpoint first — two extra id-keyed joins of the
    * (small) pair table against the corpus ids, so it is opt-in rather
    * than a tax on the callers that meet the contract. */
  def keepRepresentatives(docs: DataFrame, idCol: String, pairs: DataFrame,
                          validatePairs: Boolean = false): DataFrame = {
    val ids = docs.select(col(idCol).cast("long").as("bid"))
    val rawP = pairs.select(col("id_a").cast("long").as("a"),
      col("id_b").cast("long").as("b"))
    val p =
      if (!validatePairs) rawP
      else rawP
        .join(ids.select(col("bid").as("a")), Seq("a"), "left_semi")
        .join(ids.select(col("bid").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    val losers = graft.ops.Adjacency.componentStars(p)._1.select("bid")
    ids.join(losers, Seq("bid"), "left_anti")
      .select(col("bid").as(idCol))
  }

  /** Write the corpus dedup INDEX: the distinct canonical keys of every
    * document already ingested, stored BUCKETED AND SORTED by key. This is
    * the incremental-ingestion primitive: the index's shuffle is paid once
    * at write time, and every later batch dedup ([[incrementalNew]]) joins
    * against it exchange-free on the index side — at 100 TB the index is
    * corpus-sized, so never re-shuffling it per ingest is the whole game. */
  def writeDedupIndex(corpus: DataFrame, key: Column, table: String,
                      buckets: Int): Unit =
    graft.sources.Bucketed.writeBucketed(
      corpus.select(key.as("k")).distinct(), table, "k", buckets)

  /** Incremental ingestion dedup: of an incoming batch, keep only the
    * documents whose canonical key is NOT already in the corpus index
    * (left_anti against the bucketed table), then collapse in-batch
    * duplicates to one representative per key (min id, deterministic at
    * any parallelism). Output: (k, keep_id, n_in_batch).
    *
    * Plan shape: the bucketed index side of the sort-merge anti join has
    * ZERO exchange and ZERO sort (bucketBy+sortBy stored it join-ready);
    * only the incoming batch — the small side, by ingest construction —
    * shuffles, and the follow-up groupBy(k) reuses that same hash
    * partitioning, so the whole query is ONE exchange regardless of
    * corpus size (asserted in IncrementalDedupSpec). */
  def incrementalNew(incoming: DataFrame, idCol: String, key: Column,
                     indexTable: String): DataFrame = {
    val spark = incoming.sparkSession
    incoming.select(col(idCol), key.as("k"))
      .join(spark.table(indexTable), Seq("k"), "left_anti")
      .groupBy("k")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_in_batch"))
  }

  /** Refresh the exact-dedup index after an ingest: append the batch's
    * surviving keys (the `k` column of [[incrementalNew]]'s output, i.e.
    * keys the corpus had never seen) so the NEXT batch dedups against this
    * one too. Reuses the table's stored bucket spec — the index stays
    * join-ready across arbitrarily many ingests; re-run
    * [[writeDedupIndex]] occasionally to compact the accumulated
    * per-append files. */
  def appendDedupIndex(keptKeys: DataFrame, table: String): Unit =
    graft.sources.Bucketed.appendBucketed(
      keptKeys.select(col("k")).distinct(), table)

  /** Benchmark decontamination — the training-hygiene gate every corpus
    * runs before a split ships: a training document is CONTAMINATED when it
    * shares any word n-gram with the held-out evaluation set (the overlap
    * rule of GPT-3 appendix C / the Pile). The eval side is tiny by
    * construction (benchmarks are thousands of docs; the corpus is 10^12),
    * so its distinct n-gram set is broadcast and the corpus side stays
    * scan-shaped: shingle, explode distinct grams, broadcast-hash join —
    * the big side never shuffles, and the one exchange left is the
    * per-doc hit-count aggregation (map-side partial). Returns
    * (idCol, n_hits) for each contaminated NON-eval document, where
    * n_hits = number of distinct shared n-grams.
    *
    * CONTRACT: `isEval` must select a FIXED-SIZE set (a benchmark suite),
    * not a corpus fraction — the broadcast is forced on that premise. To
    * screen against an unbounded set, use jaccardPairsExact or the LSH
    * generators instead (bucketed joins, no broadcast). */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    isEval: Column, n: Int): DataFrame = {
    val grams = docs.select(col(idCol), isEval.as("is_eval"),
      explode(array_distinct(shingles(split(col(textCol), " "), n))).as("sh"))
    val evalGrams = grams.filter(col("is_eval")).select("sh").distinct()
    grams.filter(!col("is_eval"))
      .join(broadcast(evalGrams), "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Word shingles (n-grams) as an array column, from a token array. */
  def shingles(toks: Column, n: Int): Column =
    transform(
      sequence(lit(0), greatest(size(toks) - lit(n), lit(0))),
      i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))

  // The MinHash shape of every MinHash entry: 3-word shingles, 64
  // permutations cut into 16 bands of 4 rows, and band buckets capped at
  // 64 documents.
  private[graft] val ShingleN = 3
  private val NPerm = 64
  private val Bands = 16
  private val MaxBucket = 64

  /** MinHash LSH band keys of a hashed-shingle array column: the
    * signature (MinHashSigHashedExpr, NPerm permutations) cut into Bands
    * bands, each band hashed and folded with its band id into ONE 8-byte
    * key. The odd-constant multiply is a bijection of the band hash, so
    * equal bands always collide onto the same key (no recall loss); a
    * cross-band collision can only ADD a candidate, which the exact verify
    * then discards — the key never needs oracle parity. array_repeat hands
    * every band lambda the signature as its argument, so the signature is
    * computed once per row, not once per band. */
  private[graft] def minhashBandKeys(shs: Column): Column = {
    val rows = NPerm / Bands
    transform(
      array_repeat(graft.functions.MinHashSigExpr.minhashSigHashed(shs, NPerm), Bands),
      (sig, b) =>
        xxhash64(concat_ws(",", slice(sig, b * lit(rows) + lit(1), lit(rows)))) *
          lit(0x9E3779B97F4A7C15L) + b)
  }

  /** Hashed shingle sets + capped LSH band rows for `docs` — the shared
    * front half of the one-shot near-dup join ([[minhashNearDups]]) and the
    * incremental index/batch paths ([[writeMinhashIndex]] /
    * [[incrementalNearDups]]). Returns `sets` (id, shs) and the band rows
    * (bk, id) minus every band bucket wider than MaxBucket ([[underCap]]).
    *
    * Shingles are HASHED to 8-byte longs at the scan: the signature
    * permutes the hashes (native codegen expr) and the verify join shuffles
    * long arrays instead of 3-gram strings — ~3× fewer bytes through every
    * exchange. The hashing itself is one codegen'd pass (ShingleHash64Expr:
    * no string materialization, no interpreted HOF). A 64-bit collision can
    * only MERGE two distinct shingles (≈n²/2^64 odds), indistinguishable in
    * practice. Both are persisted (CacheBin-registered; the session driver
    * drains handles after its terminal action): the shingle sets feed the
    * verify join, and the band rows feed both the hot-bucket scan and the
    * candidate join. */
  private def shingleBandRows(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val sets = graft.CacheBin.persist(shingleSets(docs, idCol, textCol, ShingleN))
    val bandRows = graft.CacheBin.persist(
      sets.select(explode(minhashBandKeys(col("shs"))).as("bk"), col("id")))
    (sets, underCap(bandRows, "bk", MaxBucket))
  }

  /** The skew cap of the band, segment and fingerprint joins: the keys of
    * `rows` shared by more than `maxWidth` rows. A boilerplate key shared
    * by k rows is k² candidate pairs however selective the rest of the key
    * space is, so it is dropped (LOSSY, by design) before the self-join.
    * The hot set is found with a map-side-combined groupBy (small result:
    * only over-cap keys), but it grows with the number of boilerplate
    * clusters, so it must never be FORCED through the driver: no broadcast
    * hint. The anti join is left to AQE, whose runtime stats on an
    * aggregate output are REAL — a small hot set broadcasts, a
    * corpus-scale one falls back to a spillable sort-merge anti on the
    * same key the candidate join shuffles on anyway. */
  private[graft] def overCap(rows: DataFrame, key: String, maxWidth: Long): DataFrame =
    rows.groupBy(key).agg(count(lit(1)).as("w"))
      .filter(col("w") > maxWidth).select(key)

  /** `rows` minus every row whose `key` is [[overCap]]. */
  private[graft] def underCap(rows: DataFrame, key: String, maxWidth: Long): DataFrame =
    rows.join(overCap(rows, key, maxWidth), Seq(key), "left_anti")

  /** Candidate pairs of a band-key self-join: (id_a < id_b) for every two
    * rows of `bands` (bk, id) that share a key, once each. */
  private def bandPairs(bands: DataFrame): DataFrame =
    bands.as("l")
      .join(bands.as("r"), col("l.bk") === col("r.bk") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()

  /** Write the corpus MINHASH index for incremental near-dup ingestion:
    * `<prefix>_bands` = (bk, id) band-bucket membership, bucketed+sorted by
    * bk, with over-cap buckets (width > MaxBucket — boilerplate band
    * collisions) dropped at WRITE time; `<prefix>_sets` = (id, shs) hashed
    * shingle sets, bucketed+sorted by id, for the exact-Jaccard verify.
    * Both shuffles are paid once here — every later batch probe
    * ([[incrementalNearDups]]) reads both tables join-ready, so no
    * corpus-sized exchange ever happens at ingest time. */
  def writeMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                        prefix: String, buckets: Int): Unit =
    minhashIndex(corpus, idCol, textCol, prefix,
      (rows, table, key) => graft.sources.Bucketed.writeBucketed(rows, table, key, buckets))

  /** Refresh the minhash index with an ingested batch (typically the docs
    * that survived [[incrementalNearDups]] selection): append their band
    * membership and shingle sets under the tables' stored bucket specs.
    * The write-time hot-bucket cap applies within this batch only; a
    * periodic [[writeMinhashIndex]] rebuild re-compacts and re-caps
    * globally. */
  def appendMinhashIndex(batch: DataFrame, idCol: String, textCol: String,
                         prefix: String): Unit =
    minhashIndex(batch, idCol, textCol, prefix,
      (rows, table, _) => graft.sources.Bucketed.appendBucketed(rows, table))

  /** The index writers' one body; `sink(rows, table, bucket key)` writes
    * or appends. */
  private def minhashIndex(docs: DataFrame, idCol: String, textCol: String,
                           prefix: String, sink: (DataFrame, String, String) => Unit): Unit = {
    val (sets, bands) = shingleBandRows(docs, idCol, textCol)
    sink(bands, s"${prefix}_bands", "bk")
    sink(sets, s"${prefix}_sets", "id")
  }

  /** Incremental MinHash near-dup: probe an incoming crawl batch against
    * the persisted corpus index ([[writeMinhashIndex]]) AND against itself,
    * returning every verified pair (exact shingle Jaccard >= threshold)
    * that touches the batch. Cross pairs come out (id_a = corpus doc,
    * id_b = batch doc); in-batch pairs (id_a < id_b, both batch).
    *
    * Plan shape at 100 TB: the batch side computes shingles/bands once
    * (persisted) and shuffles on bk; BOTH corpus-sized tables — band
    * membership and shingle sets — are read bucketed, join-ready, with
    * zero exchange and zero sort above their scans (spec-asserted). Every
    * per-ingest SHUFFLE is sized by the BATCH; the corpus side costs one
    * sequential, exchange-free scan per ingest (the unavoidable floor of
    * a join-based probe — what the index eliminates is re-shuffling and
    * re-sorting the corpus every batch, measured by the incremental sweep).
    * The batch self-probe applies the same MaxBucket skew cap as the
    * one-shot path; the corpus side was capped at index-write time. */
  def incrementalNearDups(batch: DataFrame, idCol: String, textCol: String,
                          prefix: String, threshold: Double = 0.6): DataFrame = {
    val spark = batch.sparkSession
    val (bSets, bBands) = shingleBandRows(batch, idCol, textCol)
    val crossCand = bBands
      .join(spark.table(s"${prefix}_bands").withColumnRenamed("id", "id_a"), "bk")
      .select(col("id_a"), col("id").as("id_b")).distinct()
    // the cross side reads its two set tables separately (the bucketed
    // corpus index and the batch): a union would shuffle the corpus index
    jaccardAtLeast(withOverlap(crossCand, spark.table(s"${prefix}_sets"), bSets), threshold)
      .unionByName(jaccardAtLeast(withOverlap(bandPairs(bBands), bSets, bSets), threshold))
  }

  /** Full MinHash-LSH near-dup pipeline: doc (id, text) -> candidate pairs
    * with exact Jaccard >= threshold. Candidates from the band-key
    * self-join ([[bandPairs]]); exact verification via distinct-shingle
    * set overlap. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.6): DataFrame = {
    val (sets, bands) = shingleBandRows(docs, idCol, textCol)
    jaccardAtLeast(withOverlap(bandPairs(bands), sets, sets), threshold)
  }

  /** EXACT n-gram Jaccard pair join with PPJoin-style prefix filtering
    * (Vernica et al., VLDB'10): shingles are globally ordered rarest-first
    * (document frequency asc, shingle hash asc — a total order), and a
    * record of size sz only emits its first [[prefixLen]] shingles into the
    * candidate join. Any pair with Jaccard >= t must share a prefix
    * shingle under that order, so recall is 1.0 — while a boilerplate
    * shingle shared by k documents sits at the END of the order and stays
    * out of the prefixes, killing the k² hot-bucket blowup of the naive
    * inverted-index self-join. Exact Jaccard is then verified per
    * candidate pair.
    *
    * Two arms give the same rows and schema. The shingle-hash table
    * (id, shs) is persisted either way. Unless
    * `spark.sql.autoBroadcastJoinThreshold` is -1, one job builds that
    * cache in parallel, and the bytes it holds pick the arm:
    *  - ONE TASK, when those bytes are at most the threshold. The cache is
    *    coalesced to one partition and [[localOverlaps]] runs the same
    *    PPJoin in memory on primitive arrays: no shuffle, two jobs. Near
    *    the threshold the task held about three times the cached bytes.
    *    The bytes are measured, not the optimizer's guess from file sizes
    *    and default column widths, which came out 3 to 5 times smaller on
    *    the parquet corpora measured (BENCH.md).
    *  - DISTRIBUTED otherwise, and always at a threshold of -1, which is
    *    the way to force this arm: every intermediate is computed once
    *    ([[shinglePrefixes]]): the ONE persisted shingle-hash table feeds
    *    the df aggregate, the prefix and both verify joins, and both sides
    *    of the candidate self-join read the same prefix.
    * On 4 cores the one-task arm beat the distributed one at every size
    * measured, up to four times the default 10 MB threshold (BENCH.md);
    * on many more cores a table near the threshold may run faster
    * distributed, which is not measured.
    * Requires threshold <= 1 (a Jaccard never exceeds 1). */
  def jaccardPairsExact(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.6): DataFrame = {
    require(threshold <= 1.0, s"pair threshold must be at most 1, got $threshold")
    // persisted: its cached bytes choose the arm, and the distributed
    // arm's self-join reads it on both sides, where Spark does not reuse
    // the second copy of its plan (it plans two ranking shuffles)
    val held = graft.CacheBin.persist(shingleSets(docs, idCol, textCol, shingleN))
    val budget = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    val fits = budget >= 0 && {
      held.queryExecution.toRdd.count() // one job builds the cache
      // a fresh plan over the built cache: its stats are the bytes the
      // cache holds, not a guess from file sizes and column widths
      held.select("*").queryExecution.optimizedPlan.stats.sizeInBytes <= budget
    }
    if (fits)
      jaccardAtLeast(localOverlaps(held, threshold), threshold, col("sz_a"), col("sz_b"))
    else {
      val prefix = graft.CacheBin.persist(shinglePrefixes(held, threshold))
      // the size bound prunes in the candidate join itself, before the
      // dedup/verify stages see the pair
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
            sizesMeet(threshold, col("a.sz"), col("b.sz")))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      jaccardAtLeast(withOverlap(cand, held, held), threshold)
    }
  }

  // The fp guard of the prefix and size bounds: t·sz can land 1 ulp ABOVE
  // its real value (0.55 · 100 = 55.00000000000001), and a ceil()-tight
  // bound would then drop a valid boundary pair. Subtracting it only ever
  // ADMITS extra candidates, which the exact verify discards, so recall
  // stays 1.0 for every threshold, not just ones that round down.
  private val Eps = 1e-9

  /** PPJoin's prefix length of a set of `sz` shingles at threshold t:
    * sz - ceil(t·sz) + 1, with the ceil taken [[Eps]] below t·sz. One
    * definition, as a column for the distributed joins and as an Int for
    * [[localOverlaps]]. */
  private def prefixLen(threshold: Double, sz: Column): Column =
    sz - ceil(lit(threshold) * sz - lit(Eps)) + 1
  private def prefixLen(threshold: Double, sz: Int): Int =
    sz - math.ceil(threshold * sz - Eps).toInt + 1

  /** PPJoin's size bound: J(A,B) >= t forces |A| >= t·|B| and
    * |B| >= t·|A| ([[Eps]]-guarded), as a column and as a Boolean. */
  private def sizesMeet(threshold: Double, a: Column, b: Column): Column =
    a >= lit(threshold) * b - lit(Eps) && b >= lit(threshold) * a - lit(Eps)
  private def sizesMeet(threshold: Double, a: Int, b: Int): Boolean =
    a >= threshold * b - Eps && b >= threshold * a - Eps

  /** The one-task arm of [[jaccardPairsExact]]: the same PPJoin over
    * `sets` (id, shs), in memory in one task, on primitive arrays. Each
    * distinct hash is replaced by its rank in the global (df asc, hash
    * asc) order (a bijection, so overlaps are unchanged). Rows are read in
    * id order; the rows of one id merge into one list that is ranked and
    * sized (as the distributed arm's groupBy(id)), and every row pair of a
    * candidate id pair is verified by a merge over the sorted ranks, so
    * duplicate ids give the same rows in both arms. Null sets never pair
    * and null ids only count towards document frequency, as there.
    * Emits (id_a, id_b, sz_a, sz_b, inter), one row per row pair of each
    * candidate (id_a < id_b). */
  private def localOverlaps(sets: DataFrame, threshold: Double): DataFrame = {
    val id = sets.schema("id")
    val out = StructType(Seq(id.copy(name = "id_a"), id.copy(name = "id_b"),
      StructField("sz_a", IntegerType, false), StructField("sz_b", IntegerType, false),
      StructField("inter", DoubleType, false)))
    def sorted(a: Array[Int]): Array[Int] = { java.util.Arrays.sort(a); a }
    sets.coalesce(1).sortWithinPartitions("id").mapPartitions { it =>
      val rows = it.filter(!_.isNullAt(1)).map(r => r.get(0) -> r.getSeq[Long](1).toArray).toArray
      // the distinct hashes in ascending order with their document
      // frequency over every row, then each one's rank
      val all = rows.flatMap(_._2)
      java.util.Arrays.sort(all)
      val nd = all.indices.count(i => i == 0 || all(i) != all(i - 1))
      val hs = new Array[Long](nd); val df = new Array[Int](nd); var d = -1
      for (i <- all.indices) {
        if (i == 0 || all(i) != all(i - 1)) { d += 1; hs(d) = all(i) }
        df(d) += 1
      }
      val order = Array.tabulate(nd)(k => df(k).toLong << 32 | k)
      java.util.Arrays.sort(order)
      val rankOf = new Array[Int](nd)
      order.indices.foreach(r => rankOf(order(r).toInt) = r)
      val byId = rows.collect { case (k, h) if k != null =>
        k -> sorted(h.map(x => rankOf(java.util.Arrays.binarySearch(hs, 0, nd, x)))) }
      val starts = byId.indices.filter(i => i == 0 || byId(i)._1 != byId(i - 1)._1) :+ byId.length
      // inverted index of the prefixes seen so far, as linked lists in
      // arrays: rank -> earlier groups (smaller ids)
      val head = Array.fill(nd)(-1); val next = new Array[Int](all.length)
      val post = new Array[Int](all.length); var np = 0
      val sz = new Array[Int](starts.length - 1); val mark = Array.fill(sz.length)(-1)
      sz.indices.iterator.flatMap { j =>
        val mine = starts(j) until starts(j + 1)
        val merged = sorted(Array.concat(mine.map(byId(_)._2): _*))
        sz(j) = merged.length
        mark(j) = j // mark(i) == j: i is j or already a candidate of j
        val cands = mutable.ArrayBuilder.make[Int]
        merged.take(prefixLen(threshold, sz(j))).foreach { r =>
          var p = head(r)
          while (p >= 0) {
            val i = post(p)
            if (mark(i) != j && sizesMeet(threshold, sz(i), sz(j))) { mark(i) = j; cands += i }
            p = next(p)
          }
          post(np) = j; next(np) = head(r); head(r) = np; np += 1
        }
        for (i <- sorted(cands.result()).iterator; a <- starts(i) until starts(i + 1); b <- mine)
          yield Row(byId(a)._1, byId(b)._1, byId(a)._2.length, byId(b)._2.length,
            sortedOverlap(byId(a)._2, byId(b)._2).toDouble)
      }
    }(Encoders.row(out))
  }

  /** |A∩B| of two ascending arrays of distinct ranks. */
  private def sortedOverlap(a: Array[Int], b: Array[Int]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length)
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    n
  }

  /** Exact n-gram CONTAINMENT pairs: C(A,B) = |A∩B| / min(|A|,|B|) ≥ t.
    * Jaccard misses near-SUBSET duplication (a page quoting another whole
    * page scores J = |A|/|B|, arbitrarily low as the host page grows);
    * containment is the standard complement in web-corpus dedup for
    * quote/wrapper/aggregator pages. Same distinct-shingle-set semantics
    * as [[jaccardPairsExact]] (reference analog: Osm.merge_duplicated's
    * canonical-key grouping, osm.py:87-104, relaxed to set overlap).
    *
    * Candidate generation is the prefix-filter theorem specialized to the
    * overlap bound α ≥ t·min(|A|,|B|): order shingles by (df, hash); the
    * SMALLER set of any qualifying pair must intersect the other set
    * within its own first |S| - ceil(t·|S|) + 1 shingles (its prefix for
    * its OWN size — the bound t·|S| is exact because |S| IS the min).
    * So candidates = smaller-side prefix ⨝ larger-side FULL shingle list
    * on the 8-byte shingle hash, with the size inequality in the join
    * condition. Lossless: only the min side needs a prefix. The larger
    * side carries every shingle, which is what makes containment
    * intrinsically heavier than Jaccard (whose both-sides-pruned prefix
    * join it otherwise mirrors); the df-ascending order keeps the prefix
    * shingles rare so candidate fan-out stays near the true pair count.
    *
    * Plan at 10^12 docs: the same front half as [[jaccardPairsExact]]
    * ([[shinglePrefixes]] — ONE persisted shingle-hash table, a map-side
    * combined df aggregate on the 8-byte hash, one ranking groupBy), the
    * full side exploded straight from that table, the candidate equi-join
    * on constant-width rows, pairs dedup on ids ALONE, and the exact
    * verify re-attaches the two hashed shingle sets by id (array_intersect
    * per pair, no corpus-wide state). Boilerplate hot shingles are the
    * skew risk → AQE skew-split on the candidate exchange; the fp-epsilon
    * on the prefix bound only ADMITS candidates (verify discards), recall
    * stays 1.0. Requires threshold <= 1.
    *
    * Unlike [[jaccardPairsExact]], this join has no one-task arm yet: it
    * always takes the distributed plan. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.8): DataFrame = {
    require(threshold <= 1.0, s"pair threshold must be at most 1, got $threshold")
    val sets = graft.CacheBin.persist(shingleSets(docs, idCol, textCol, ShingleN))
    // prefix of the prospective MIN side: its first [[prefixLen]] shingles
    // in (df, hash) order
    val prefix = shinglePrefixes(sets, threshold)
    val full = sets.select(col("id"), explode(col("shs")).as("sh"), size(col("shs")).as("sz"))
    // a = the smaller set (strictly, sz_a <= sz_b; ties broken by id so
    // each unordered pair is generated exactly once from one direction)
    val cand = prefix.as("a").join(full.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") =!= col("b.id") &&
          (col("a.sz") < col("b.sz") ||
            (col("a.sz") === col("b.sz") && col("a.id") < col("b.id"))))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    withOverlap(cand, sets, sets)
      .withColumn("containment",
        round(col("inter") / least(size(col("shs_a")), size(col("shs_b"))), 6))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** Each document's DISTINCT shingle hashes (id, shs), from ONE codegen'd
    * generation (ShingleHash64Expr), unpersisted: the distributed pair
    * joins persist it (CacheBin — caller drains) because the df aggregate,
    * the prefix and both verify joins read it. */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.ShingleHash64Expr.shingleHash64(split(col(textCol), " "), shingleN)
        .as("shs"))

  /** Front half of the distributed prefix-filter pair joins: (id, sh, sz),
    * the first [[prefixLen]] shingles of each document of `sets` in the
    * global (df asc, hash asc) order, sz = |shs| (the merged list's size
    * when an id has several rows).
    * Candidate generation shuffles 8-byte shingle HASHES, not strings —
    * the prefix-filter theorem holds for any consistent global total order
    * and (df, hash) is one. A 64-bit collision could only add a candidate
    * pair; exactness comes from the verify stage either way. The ranking
    * is one groupBy(id) over (df, sh) structs, sorted and sliced in the
    * row — no window, no second sort. */
  private def shinglePrefixes(sets: DataFrame, threshold: Double): DataFrame = {
    val sh = sets.select(col("id"), explode(col("shs")).as("sh"))
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    sh.join(dfreq, "sh")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("sh")))).as("ranked"))
      .select(col("id"), size(col("ranked")).as("sz"), col("ranked"))
      .select(col("id"), col("sz"),
        explode(slice(col("ranked"), lit(1), prefixLen(threshold, col("sz")).cast("int"))).as("p"))
      .select(col("id"), col("p.sh").as("sh"), col("sz"))
  }

  /** Verify side of the pair joins: attach the (id, shs) hashed shingle
    * sets to the (id_a, id_b) candidates by id — `setsA` to id_a, `setsB`
    * to id_b, one table or two — and count the overlap (`inter`). Over
    * 64-bit hashes |A∩B| equals the string-set overlap except under a
    * collision, and shuffles ~3× fewer bytes. */
  private def withOverlap(cand: DataFrame, setsA: DataFrame, setsB: DataFrame): DataFrame =
    cand
      .join(setsA.withColumnRenamed("id", "id_a").withColumnRenamed("shs", "shs_a"), "id_a")
      .join(setsB.withColumnRenamed("id", "id_b").withColumnRenamed("shs", "shs_b"), "id_b")
      .withColumn("inter", overlap(col("shs_a"), col("shs_b")))

  /** |A∩B| of two distinct hash-set columns, as a double; null when either
    * set is null (`size` would give -1 there, and -1 / (-1 + -1 + 1) is a
    * Jaccard of 1.0 for two null sets). */
  private[graft] def overlap(a: Column, b: Column): Column =
    array_size(array_intersect(a, b)).cast("double")

  /** Exact Jaccard of two distinct hash sets of sizes `szA`, `szB` with
    * overlap `inter` ([[overlap]]), rounded to 6 places:
    * |A∪B| = |A| + |B| − |A∩B|. */
  private[graft] def jaccard(szA: Column, szB: Column, inter: Column): Column =
    round(inter / (szA + szB - inter), 6)

  /** Exact Jaccard of overlapped rows, kept at >= threshold: the set sizes
    * are those of [[withOverlap]]'s `shs_a`/`shs_b` unless given. */
  private def jaccardAtLeast(overlapped: DataFrame, threshold: Double,
      szA: Column = size(col("shs_a")), szB: Column = size(col("shs_b"))): DataFrame =
    overlapped
      .withColumn("jaccard", jaccard(szA, szB, col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** splitmix64 of FNV-1a — deterministic 64-bit string hash, pure Scala. */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
    h ^= h >>> 27; h *= 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** First 8 bytes of md5(token) read big-endian — a slower token hash
    * whose bits an external SQL engine can reproduce exactly
    * (`('0x' || substr(md5(t),1,16))::UBIGINT` in DuckDB), used to
    * oracle-gate the simhash pipeline end-to-end. */
  // one MessageDigest per executor thread: getInstance allocates (and
  // provider-lookups) per call, and md5Hash64 runs inside simhash64's
  // per-token loop — the allocation churn was the top cost of the
  // signature stage
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  def md5Hash64(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** 64-bit SimHash of a token seq (per-token hash64, bitwise vote).
    * Implemented as a plain Scala scalar for use in typed map — bit loops
    * aren't Catalyst-friendly and this is a per-row O(tokens) pass. */
  def simhash64(tokens: Seq[String], tokenHash: String => Long = hash64): Long = {
    val votes = new Array[Int](64)
    tokens.foreach { t =>
      val h = tokenHash(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Hamming distance between two simhashes. */
  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Bit spans of `n` near-equal blocks covering the 64-bit signature. */
  def blockSpansN(n: Int): Seq[(Int, Int)] = {
    require(n >= 1 && n <= 64, s"nBlocks must be in [1,64], got $n")
    val base = 64 / n
    val extra = 64 % n // first `extra` blocks get one more bit
    val starts = (0 until n).scanLeft(0)((s, b) => s + base + (if (b < extra) 1 else 0))
    (0 until n).map(b => (starts(b), base + (if (b < extra) 1 else 0)))
  }

  /** Bit spans of `maxDist + 1` near-equal blocks covering the 64-bit
    * signature: by pigeonhole, any pair within Hamming distance `maxDist`
    * agrees on at least one whole block, so the block equi-join is a
    * LOSSLESS candidate generator for that radius. */
  def blockSpans(maxDist: Int): Seq[(Int, Int)] = blockSpansN(maxDist + 1)

  // BigInt: intermediate products overflow Long around C(64,32), and a
  // wrapped-negative count would sneak past the <= 512 replication filter
  private def choose(n: Int, k: Int): BigInt =
    (1 to k).foldLeft(BigInt(1))((acc, i) => acc * (n - k + i) / i)

  /** Block count b > maxDist whose combination keys (see
    * [[simhashComboKeys]]) are as wide as possible subject to the
    * C(b, b-maxDist) replication staying <= 512 — e.g. maxDist=3 -> b=5
    * (10 combos, ~25-bit keys), maxDist=8 -> b=12 (495 combos of 4 blocks,
    * ~21-bit keys). Smallest b wins ties, so the radius degrades
    * gracefully: very large maxDist gets the widest affordable keys
    * rather than none. */
  def autoBlocks(maxDist: Int): Int = {
    require(maxDist >= 0 && maxDist <= 63, s"maxDist must be in [0,63], got $maxDist")
    // b can run to 64 one-bit blocks, so `affordable` is never empty:
    // b = maxDist+1 always costs C(b,1) = b <= 64 combos
    val affordable = ((maxDist + 1) to 64)
      .filter(b => choose(b, b - maxDist) <= 512)
    affordable.find(b => (b - maxDist) * 64 / b >= 20)
      .getOrElse(affordable.maxBy(b => (b - maxDist) * 64 / b))
  }

  /** All C(nBlocks, nBlocks - maxDist) sorted index combinations of
    * agreeing blocks. */
  def blockCombos(nBlocks: Int, maxDist: Int): Seq[Seq[Int]] = {
    require(nBlocks > maxDist, s"need nBlocks > maxDist, got $nBlocks <= $maxDist")
    (0 until nBlocks).combinations(nBlocks - maxDist).map(_.toSeq).toSeq
  }

  /** Candidate-join keys for simhash blocking, one row per (doc, combo):
    * the signature is split into `nBlocks` blocks and, for every
    * combination of `nBlocks - maxDist` blocks, the combo's block values
    * are hashed (with the combo id as salt) into ONE 64-bit key.
    *
    * Pigeonhole (Manku et al., WWW'07 §3): a pair within Hamming distance
    * `maxDist` differs in at most `maxDist` blocks, so it AGREES on at
    * least `nBlocks - maxDist` whole blocks — i.e. on every block of at
    * least one combo — and shares that combo's key. The generator is
    * therefore LOSSLESS for the radius, while each key now carries
    * `(nBlocks - maxDist) * 64/nBlocks` signature bits instead of one
    * block's worth: bucket width stays ~n / 2^keyBits instead of the
    * single-block n / 2^(64/nBlocks) that goes quadratic at corpus scale.
    * (An xxhash64 collision across combos can only ADD a candidate; the
    * exact bit_count verify discards it.) */
  def simhashComboKeys(sigs: DataFrame, maxDist: Int, nBlocks: Int): DataFrame = {
    val spans = blockSpansN(nBlocks)
    val blks = array(spans.map { case (start, len) =>
      shiftright(col("sig"), start)
        .bitwiseAND(lit(if (len == 64) -1L else (1L << len) - 1L))
    }: _*)
    val combos = blockCombos(nBlocks, maxDist)
    val k = nBlocks - maxDist
    // the combo table is a LITERAL array exploded per row, and the key is
    // ONE xxhash64 over k element_at lookups — not C(b,k) inline hash
    // expressions in a single projection, which blows generated-code size
    // (hundreds of combos × shifts ≈ thousands of expression nodes) and
    // measurably stalls codegen at maxDist=8's 495 combos
    val comboLit = array(combos.zipWithIndex.map { case (c, ci) =>
      struct((lit(ci).as("cid") +: c.zipWithIndex.map { case (b, j) =>
        lit(b).as(s"i$j") }): _*)
    }: _*)
    sigs.withColumn("blks", blks)
      .select(col("id"), col("sig"), col("blks"), explode(comboLit).as("c"))
      .select(col("id"), col("sig"),
        xxhash64(((0 until k).map(j =>
          element_at(col("blks"), col(s"c.i$j") + 1)) :+ col("c.cid")): _*).as("key"))
  }

  /** SimHash near-dup candidates: signatures are blocked into combination
    * keys ([[simhashComboKeys]] — lossless by pigeonhole), equi-joined per
    * key, then a codegen'd bit_count(a ^ b) verifies the exact distance.
    *
    * `nBlocks` <= 0 picks [[autoBlocks]] (>= 20-bit keys); `maxBucket` > 0
    * additionally drops keys shared by more than `maxBucket` docs
    * ([[underCap]]: an anti join against the aggregated hot-key set, never
    * broadcast-hinted) — a LOSSY skew backstop for corpus-scale
    * boilerplate clusters (a cluster of k identical pages is k² candidate
    * pairs no matter how wide the keys are), mirroring minhashNearDups'
    * cap. Leave it 0 for exact-radius semantics. */
  def simhashNearDups(docs: Dataset[(Long, Seq[String])], maxDist: Int = 3,
                      tokenHash: String => Long = hash64,
                      nBlocks: Int = 0, maxBucket: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = docs.map { case (id, toks) => (id, simhash64(toks, tokenHash)) }
      .toDF("id", "sig")
    hammingNearDups(sigs, maxDist, nBlocks, maxBucket)
  }

  /** Generic Hamming-radius near-dup pairs over ANY 64-bit signature
    * column (`sigs`: (id: long, sig: long)) — the candidate/verify
    * machinery of [[simhashNearDups]] factored out so other signature
    * families (SimHash over tokens, perceptual dHash over decoded media,
    * …) share one scale-audited implementation. Combination-block keys
    * (lossless by pigeonhole), sort-merge candidate join, codegen'd
    * bit_count verify; `withDist = true` adds the exact distance column
    * (`ham`, int) — one small int through the pair-dedup exchange, never
    * the signatures. */
  def hammingNearDups(sigs: DataFrame, maxDist: Int,
                      nBlocks: Int = 0, maxBucket: Int = 0,
                      withDist: Boolean = false): DataFrame = {
    val b = if (nBlocks > 0) nBlocks else autoBlocks(maxDist)
    // persisted: both self-join sides (and the hot-bucket scan) read ONE
    // combo-key generation, and the cache gives AQE REAL size stats — the
    // parquet-derived estimate misses the C(b,k)× explode, and Spark would
    // otherwise auto-broadcast the multi-GB keyed table and kill the
    // driver (observed at 320k docs). Registered in CacheBin (caller
    // drains after its terminal action).
    val keyed0 = graft.CacheBin.persist(simhashComboKeys(sigs, maxDist, b))
    val keyed = if (maxBucket <= 0) keyed0 else underCap(keyed0, "key", maxBucket)
    // merge-join hint on both sides: the candidate join must SHUFFLE on
    // the ~21-bit keys — never broadcast a table that grows with n — and
    // sort-merge (unlike shuffled-hash, whose build side must FIT in
    // execution memory and OOMs once partitions carry tens of millions of
    // keyed rows) spills gracefully at any per-partition volume.
    // The Hamming verify runs BEFORE the pair dedup: bit_count is a pure
    // per-row function, so filtering first commutes with distinct while
    // (a) the dedup exchange carries only true near-dup id pairs — two
    // longs, no signatures — and (b) the up-to-C(b,k) duplicate copies of
    // each surviving pair collapse map-side in distinct's partial
    // aggregate instead of crossing the wire
    val verified = keyed.as("l").hint("merge").join(keyed.as("r").hint("merge"),
        col("l.key") === col("r.key") && col("l.id") < col("r.id"))
      .filter(bit_count(col("l.sig").bitwiseXOR(col("r.sig"))) <= maxDist)
    if (withDist)
      verified.select(col("l.id").as("id_a"), col("r.id").as("id_b"),
          bit_count(col("l.sig").bitwiseXOR(col("r.sig"))).cast("int").as("ham"))
        .distinct()
    else
      verified.select(col("l.id").as("id_a"), col("r.id").as("id_b"))
        .distinct()
  }
}
