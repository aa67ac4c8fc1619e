package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus sampling under a token budget.
  *
  * The pipeline op behind "train on the first B tokens of the cleaned
  * corpus, chosen pseudo-randomly but reproducibly": order documents by
  * (splitBucket(id), id) — a deterministic shuffle that is a pure function
  * of the id — and keep every document whose PRIOR cumulative token count
  * is still under the budget. (Generalizes the reference's deterministic
  * task-splitting discipline, catatom2osm/app.py:214-246, to corpus scale.)
  *
  * A naive implementation is one global window sort over the whole corpus —
  * the classic 100 TB anti-pattern. This one is two-phase:
  *
  *   1. per-bucket token totals (one map-side-combined groupBy over 100
  *      constant buckets; the result is a bounded 100-row table — the same
  *      driver-data class as an IVF centroid matrix);
  *   2. buckets strictly below the boundary are kept WHOLE with zero
  *      sorting; only the single boundary bucket — ~1% of the corpus —
  *      runs the in-bucket cumulative-sum window to find the exact cut.
  *
  * The kept set is identical to the global-window formulation at every
  * input (including zero-token documents: a bucket ending exactly on the
  * budget is only kept whole when its min token count proves no trailing
  * doc can sit AT the budget; otherwise it takes the window path), but the
  * sort touches 1/nBuckets of the data at any corpus size.
  */
object Sampling {

  /** Keep documents in (bucket, id) order while the running token total
    * stays under `budget` (a doc is kept iff the total BEFORE it is
    * < budget). Returns (idCol, n_tokens) for kept docs. */
  def tokenBudgetSample(docs: DataFrame, idCol: String, tokCol: Column,
                        budget: Long): DataFrame =
    sample(docs, idCol, tokCol, _ => budget)

  /** Same, with the budget given as a fraction num/den <= 1 of the corpus
    * total token count — derived from the phase-1 bucket totals themselves,
    * so no extra full-corpus scan is spent computing it. The budget is
    * exactly floor(total*num/den), computed as (total/den)*num +
    * (total%den)*num/den so the intermediate product never overflows Long
    * at any corpus size (the naive total*num wraps negative near 10^14
    * tokens × 10^5 numerators and would silently keep nothing). */
  def tokenBudgetFraction(docs: DataFrame, idCol: String, tokCol: Column,
                          num: Long, den: Long): DataFrame = {
    require(den > 0 && num >= 0 && num <= den,
      s"fraction must satisfy 0 <= num/den <= 1, got $num/$den")
    sample(docs, idCol, tokCol,
      total => total / den * num + total % den * num / den)
  }

  /** Domain-mixture reweighting (the DoReMi/data-mixing shape): downsample
    * each domain so the kept corpus approaches a TARGET token mixture,
    * given as basis points per domain (Σ targets = 10000). The achievable
    * output size is pinned by the binding domain — the one whose natural
    * share falls shortest of its target:
    *
    *   S       = min_d floor(tokens_d * 10000 / target_d)   (output size)
    *   keep_d  = floor(target_d * S / 10000)                (tokens wanted)
    *   thr_d   = floor(keep_d * 10000 / tokens_d)           (acceptance bp)
    *
    * and a document survives iff its salted hash bp < thr_d. Acceptance is
    * a pure function of (id, domain totals): stable across reruns and
    * cluster sizes. It is per-document Bernoulli(thr_d/10000), NOT an
    * exact cut — kept token mass per domain concentrates on keep_d with
    * O(sqrt(n_docs)) documents' worth of spread (the cumulative-cut ops
    * like [[tokenBudgetSample]] are the exact-within-one-doc tools).
    * Documents whose domain is absent from `targetsBp` are DROPPED
    * (target 0). All arithmetic is integer (floor division) so an oracle
    * replays it bit-for-bit; 64-bit headroom holds through corpus totals
    * of ~10^14 tokens (the ×10⁴ basis-point scaling) — beyond that, lift
    * the totals to DECIMAL.
    *
    * Everything is one declarative plan: the per-domain totals are a
    * bounded aggregate (#domains rows), thresholds broadcast back, and the
    * corpus side stays scan-shaped — no global sort, no driver collect.
    * Returns the kept documents as (idCol, domain, n_tokens). */
  def domainMix(docs: DataFrame, idCol: String, domainCol: String,
                tokCol: Column, targetsBp: Map[String, Long]): DataFrame = {
    require(targetsBp.values.sum == 10000L,
      s"targets must sum to 10000 bp, got ${targetsBp.values.sum}")
    val tgt = targetsBp.foldLeft(lit(null).cast("long")) {
      case (acc, (k, v)) => when(col("domain") === lit(k), lit(v)).otherwise(acc)
    }
    val base = docs.select(col(idCol), col(domainCol).as("domain"),
      tokCol.as("n_tokens"), TextFns.sampleBp(col(idCol), "mix").as("bp"))
    val dom = base.groupBy("domain").agg(sum("n_tokens").as("dt"))
      .withColumn("tgt", tgt)
    val sTot = dom.select(min(expr("dt * 10000 div tgt")).as("stot"))
    val thr = dom.crossJoin(sTot)
      .select(col("domain"), expr("((tgt * stot div 10000) * 10000) div dt").as("thr"))
    base.join(broadcast(thr), "domain")
      .filter(col("bp") < col("thr"))
      .select(col(idCol), col("domain"), col("n_tokens"))
  }

  /** Phase 1 of the two-phase prefix-sum decomposition, shared with
    * [[Packing.seqPack]]: per-bucket token totals collected as a bounded
    * <=100-row driver table (the same driver-data class as an IVF centroid
    * matrix), folded into (bucket, startOffset, total, minTokens) rows in
    * bucket order. NULL-hardened: a NULL bucket means a NULL document id —
    * a contract violation reported loudly instead of as a phase-1 NPE —
    * and a bucket whose token counts are all NULL sums to 0. `base` must
    * carry `bucket` and `n_tokens` columns. */
  private[text] def bucketOffsets(base: DataFrame): Array[(Long, Long, Long, Long)] = {
    val rows = base.groupBy("bucket")
      .agg(coalesce(sum("n_tokens"), lit(0L)).as("tot"),
        coalesce(min("n_tokens"), lit(0L)).as("mn"))
      .orderBy("bucket")
      .collect()
    var cum = 0L
    rows.map { r =>
      require(!r.isNullAt(0),
        "NULL document id (splitBucket is NULL); ids must be non-null")
      val before = cum; cum += r.getLong(1)
      (r.getLong(0), before, r.getLong(1), r.getLong(2))
    }
  }

  private def sample(docs: DataFrame, idCol: String, tokCol: Column,
                     budgetOf: Long => Long): DataFrame = {
    val base = docs.select(col(idCol), TextFns.splitBucket(col(idCol)).as("bucket"),
      tokCol.as("n_tokens"))

    // Phase 1: bounded per-bucket totals (<=100 rows on the driver).
    val cumBefore = bucketOffsets(base)
    val grandTotal = cumBefore.iterator.map(_._3).sum
    val budget = budgetOf(grandTotal)
    // fully-kept buckets: every doc's prior must be < budget. prior peaks at
    // before + tot - lastDocTokens, so before + tot <= budget suffices when
    // token counts are positive; a zero-token doc could sit exactly AT the
    // budget, so the == case is only sort-free when min tokens > 0.
    val fullBuckets = cumBefore.collect {
      case (b, before, tot, mn)
        if before + tot < budget || (before + tot == budget && mn > 0) => b
    }
    // the boundary bucket, if the budget lands inside one (or on its edge
    // with zero-token docs in play — then the window decides exactly)
    val boundary = cumBefore.find { case (b, before, tot, _) =>
      before < budget && before + tot >= budget && !fullBuckets.contains(b)
    }

    val kept = base.filter(col("bucket").isin(fullBuckets: _*))
    val out = boundary match {
      case None => kept
      case Some((b, before, _, _)) =>
        // Phase 2: cumulative sum inside the ONE boundary bucket only.
        val w = Window.partitionBy("bucket").orderBy(idCol)
          .rowsBetween(Window.unboundedPreceding, -1)
        val cut = base.filter(col("bucket") === b)
          .withColumn("prior", lit(before) + coalesce(sum("n_tokens").over(w), lit(0L)))
          .filter(col("prior") < budget)
          .drop("prior")
        kept.unionByName(cut)
    }
    out.select(col(idCol), col("n_tokens"))
  }

  /** Contiguous global example ids 0..n-1 in deterministic (bucket, id)
    * order WITHOUT a global sort — the example-indexing pass a training
    * pipeline needs before sharding. Same two-phase prefix-sum
    * decomposition as [[tokenBudgetSample]]: per-bucket counts are a
    * bounded 100-row aggregate, the cumulative offset runs over THAT
    * table only (the one intentional single-partition window — 100 rows
    * at any corpus size), and each bucket then ranks independently
    * (partitionBy(bucket) windows, each ~1% of the corpus). No task ever
    * owns a global order. */
  def globalIndex(docs: DataFrame, idCol: String): DataFrame = {
    val base = docs.select(col(idCol),
      TextFns.splitBucket(col(idCol)).as("bucket"))
    val wo = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum("cnt").over(wo), lit(0L)))
      .select("bucket", "offset")
    val wb = Window.partitionBy("bucket").orderBy(idCol)
    base.join(broadcast(offsets), "bucket")
      .select(col(idCol),
        (col("offset") + row_number().over(wb) - 1).as("idx"))
  }

  /** Deterministic WEIGHTED sampling (sequential Poisson, Ohlsson 1998):
    * per stratum, keep the k docs with the smallest priority h/w, where
    * h is the salted 48-bit hash (a fixed uniform draw) and w > 0 the
    * doc's weight — inclusion probability approaches k·w/Σw (πps), the
    * quality-weighted subset selection a curation pipeline runs ("sample
    * ∝ quality score"). Chosen over Efraimidis–Spirakis u^(1/w) keys
    * DELIBERATELY: the priority is ONE IEEE double division of two
    * exactly-representable operands (h < 2^53; integer-derived w), which
    * every engine rounds identically — pow/ln keys differ in the last ulp
    * across libms and can flip a rank at the boundary.
    *
    * Scale shape: NO window, NO global sort, NO sliver margin — the
    * bottom-k aggregator ([[graft.ops.BottomK]]) keeps a k-bounded buffer
    * per stratum with map-side partial aggregation (exchange ≤ k rows per
    * stratum per partition), so a stratum of 10^10 docs and a stratum of
    * 10² cost the same wire, and weight skew (one 10^12-weight doc) cannot
    * break a threshold that no longer exists. Returns (idCol, stratumCol, w, pos),
    * pos = 1-based rank by (h/w, id). */
  def weightedSample(docs: DataFrame, idCol: String, stratumCol: String,
                     weight: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val h = TextFns.hash48(concat(col(idCol).cast("string"), lit(":wsamp")))
    docs.select(col(stratumCol).cast("string"), col(idCol).cast("long"),
        (h.cast("double") / weight.cast("double")),
        weight.cast("double"))
      .as[(String, Long, Double, Double)]
      .groupByKey(_._1)
      .agg(new graft.ops.BottomK[String](k).toColumn)
      .flatMap { case (st, top) =>
        top.zipWithIndex.map { case ((_, id, w), i) =>
          (id, st, w, (i + 1).toLong)
        }
      }
      .toDF(idCol, stratumCol, "w", "pos")
  }

  /** Deterministic stratified sampling: the k docs with the SMALLEST
    * salted hash per stratum — a reproducible fixed-size eval subset per
    * language/domain. Two-phase so no window ever ranks a whole stratum:
    * bounded per-stratum counts (one map-side-combined aggregate, #strata
    * rows) set a conservative hash-acceptance threshold (~4k/stratum of
    * the corpus passes the scan filter), and the exact (hash, id) rank
    * runs over that candidate sliver only. The sliver is validated, not
    * trusted: a stratum that returned fewer than min(k, |stratum|) rows
    * fails loudly (hash uniformity would have to break by 4x for the
    * sliver to go thin — the guard turns 'improbable' into 'cannot return
    * silently wrong'). */
  def stratifiedSample(docs: DataFrame, idCol: String, stratumCol: String,
                       k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val h = TextFns.hash48(concat(col(idCol).cast("string"), lit(":strat")))
    val base = docs.select(col(idCol), col(stratumCol).as("stratum"), h.as("h"))
    val counts = base.groupBy("stratum").agg(count(lit(1)).as("n_stratum"))
    val full = 1L << 48
    val thr = least(lit(full),
      ceil(lit(full.toDouble) * lit(4.0 * k) / col("n_stratum")).cast("long"))
    val w = Window.partitionBy("stratum").orderBy(col("h"), col(idCol))
    val kept = graft.CacheBin.persist(base.join(broadcast(counts), "stratum")
      .filter(col("h") < thr)
      .withColumn("pos", row_number().over(w).cast("long"))
      .filter(col("pos") <= k))
    // loud-failure guard (bounded: one row per stratum). Driven from
    // `counts`, not `kept`: a stratum whose sliver came back EMPTY must
    // surface here too, so the kept-side count joins in as coalesce(_, 0).
    val thin = counts
      .join(kept.groupBy("stratum").agg(count(lit(1)).as("got")),
        Seq("stratum"), "left")
      .filter(coalesce(col("got"), lit(0L)) < least(lit(k.toLong), col("n_stratum")))
      .collect()
    require(thin.isEmpty,
      s"stratifiedSample sliver too thin for strata ${thin.mkString(",")} — raise the 4x margin")
    kept.select(col(idCol), col("stratum").as(stratumCol), col("pos"))
  }

  /** Deterministic global training-data shuffle: assign every document a
    * (shard, pos) coordinate — shard by a salted 48-bit hash, pos by the
    * hash order WITHIN the shard. This is exactly the write path of
    * training shards at 100 TB: hash-partition on shard, sort within each
    * partition, stream each shard to its file — a per-shard local sort,
    * never a global one (nShards grows with the corpus, so per-shard work
    * is constant; 8 here only to keep the oracle output readable). The
    * salt keeps the permutation independent of the train/val split and
    * sampling coordinates drawn from the same id ([[TextFns.sampleBp]]'s
    * independence argument). Appends are stable: new docs land at the tail
    * of their shard's hash range without reshuffling old positions across
    * shards (pos within a shard does shift — the coordinate to persist at
    * ingest time is the hash, which never changes).
    *
    * Parallelism is NOT capped at nShards: ranking runs per (shard,
    * sub-bucket) where sub = the hash's top bits — a PREFIX of the
    * (h, id) sort order, so per-sub ranks + bounded per-sub offsets (the
    * [[globalIndex]] two-phase prefix-sum, nShards*nSub offset rows)
    * reassemble the exact same per-shard positions. Without this, an
    * 8-shard shuffle serializes onto 8 tasks whatever the cluster size —
    * measured 4x parallelism loss in the web-clean N->4N sweep. */
  def shardShuffle(docs: DataFrame, idCol: String, nShards: Int,
                   nSub: Int = 64): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(nSub > 0 && (nSub & (nSub - 1)) == 0, s"nSub must be a power of two, got $nSub")
    val subBits = java.lang.Integer.numberOfTrailingZeros(nSub)
    val h = TextFns.hash48(concat(col(idCol).cast("string"), lit(":shard")))
    val base = docs.select(col(idCol), h.as("h"))
      .withColumn("shard", col("h") % nShards)
      .withColumn("sub", shiftright(col("h"), 48 - subBits))
    // equal h ties land in one sub (sub is a function of h), so per-sub
    // (h, id) order concatenated in sub order IS the shard's (h, id) order.
    val wo = Window.partitionBy("shard").orderBy("sub")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("shard", "sub").agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum("cnt").over(wo), lit(0L)))
      .select("shard", "sub", "offset")
    val wb = Window.partitionBy("shard", "sub").orderBy(col("h"), col(idCol))
    base.join(broadcast(offsets), Seq("shard", "sub"))
      .select(col(idCol), col("shard"),
        (col("offset") + row_number().over(wb)).as("pos"))
  }
}
