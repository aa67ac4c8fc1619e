package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{size => arraySize}

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
  * the MOSS plagiarism-detection selection rule): hash every k-gram,
  * then keep the minimum hash of each w-window of consecutive gram
  * positions. Guarantees: any shared substring of length ≥ w+k−1 tokens
  * contributes at least one IDENTICAL selected (hash, position-offset)
  * pair to both documents, while storing ~2/(w+1) of the grams.
  *
  * Exactness contract: gram hashes are the md5-48 idiom
  * ([[TextFns.hash48]]) REDUCED to 40 bits, and the rightmost-min tie
  * rule is encoded by PACKING hash and position into one BIGINT —
  * packed = (h mod 2⁴⁰)·2¹⁵ + (2¹⁵−1−pos) < 2⁵⁵, wrap-free in BOTH
  * engines (DuckDB's arithmetic is overflow-checked, so the packing must
  * never rely on wraparound) — so `min` alone yields (min hash,
  * rightmost such pos) and both engines replay the selection with pure
  * integer math. Documents are bounded at 2¹⁵ grams by the packing; a
  * longer-doc corpus raises the shift and narrows the hash. Leading
  * windows shorter than w still select their min (the frame semantics of
  * `ROWS w−1 PRECEDING`), so short documents fingerprint instead of
  * vanishing.
  *
  * 100 TB shape: ZERO shuffle — grams, packed keys, window minima and
  * the distinct selection all happen as array HOFs inside one codegen
  * projection; one explode emits the selected rows. Per-row cost is
  * doc_len × w, never corpus-sized. Downstream matching is a plain
  * equi-join on the 8-byte selected hash.
  */
object Winnow {

  /** One row per selected fingerprint: (id, pos, gram_hash), where pos
    * is the 0-based token position of the selected k-gram and gram_hash
    * is the 40-bit reduced md5 prefix of its text. */
  def fingerprints(docs: DataFrame, idCol: Column, textCol: Column,
      k: Int, w: Int): DataFrame = {
    require(k > 0 && w > 0, s"k=$k w=$w must be positive")
    val toks = filter(split(textCol, " "), t => length(t) > lit(0))
    val grams = when(arraySize(toks) >= k,
        transform(sequence(lit(0), arraySize(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
      .otherwise(array().cast("array<string>"))
    val hMod = 1099511627776L // 2^40
    // the packing's documented 2^15-gram bound is ENFORCED here: gram
    // 32768 would make the position term negative and bleed into the
    // adjacent hash value, silently corrupting fingerprints — a longer
    // doc fingerprints its first 32768 grams (raise the shift / narrow
    // the hash for a longer-doc corpus)
    val packed = transform(slice(grams, 1, 32768),
      (g, i) => TextFns.hash48(g) % hMod * 32768L + (lit(32767L) - i))
    // empty docs: the end-position sequence must be guarded (Spark's
    // sequence(0, -1) runs DESCENDING, yielding null minima) — the guard
    // lives inside the generator expression so `_pk` stays a single
    // bound reference (a separate Filter would inline and re-evaluate
    // the whole packed expression); explode of the empty array then
    // drops the row by itself
    docs
      .select(idCol.as("id"), packed.as("_pk"))
      .select(col("id"), explode(array_distinct(
        transform(
          when(arraySize(col("_pk")) > 0,
            sequence(lit(0), arraySize(col("_pk")) - 1))
            .otherwise(array().cast("array<int>")),
          p => array_min(slice(col("_pk"), greatest(p - w + 2, lit(1)),
            least(lit(w), p + 1)))))).as("_sel"))
      .select(col("id"),
        (lit(32767L) - col("_sel") % 32768L).as("pos"),
        expr("_sel div 32768").as("gram_hash"))
  }

  /** Near-duplicate pairs by shared winnowed fingerprints — the MOSS
    * matching step: docs sharing ≥ `minShared` selected hashes. The
    * fingerprint table (≈2/(w+1) of the grams) shuffles ONCE on the
    * 8-byte hash; hashes selected in more than `maxHashDocs` documents
    * are boilerplate and are excised by the minhash band cap's
    * aggregate-derived left_anti ([[graft.dedup.Dedup.underCap]]) before
    * the self-join, so per-hash
    * pair fan-out is bounded by C(maxHashDocs, 2). Returns
    * (id_a, id_b, shared) with id_a < id_b. */
  def nearDupPairs(docs: DataFrame, idCol: Column, textCol: Column,
      k: Int, w: Int, minShared: Long, maxHashDocs: Long): DataFrame = {
    val fp = graft.CacheBin.persist(
      fingerprints(docs, idCol, textCol, k, w)
        .select(col("id"), col("gram_hash")).distinct())
    val ok = graft.dedup.Dedup.underCap(fp, "gram_hash", maxHashDocs)
    ok.as("x").join(ok.as("y"),
        col("x.gram_hash") === col("y.gram_hash") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }
}
