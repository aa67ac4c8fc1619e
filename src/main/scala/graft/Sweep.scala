package graft

import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ListMap
import org.apache.spark.GraftListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.dedup.{Bloom, Dedup, EditDedup}
import graft.layers.SynthMuni
import graft.ops.{Adjacency, Stats, Temporal, UrlOps, WebGraph}
import graft.pipeline.{AppRun, GeoPipeline}
import graft.spatial.{Dbscan, HexGrid, S2Grid, SynthGeo}
import graft.text.{BpeStats, CountMin, Relevance, Sampling, TextFns}

/** Scaling evidence for the N→4N criterion: one harness over a table of
  * families. No multi-node cluster exists here, so each family runs the
  * same deterministic input at several local parallelism levels.
  *
  *   graft.Sweep <family…> [--levels 8,32] [--n N[,N…]] [--mode strong|weak]
  *
  * Families that read a table (flagship, dedup, simhash, incremental,
  * pipeline) take it from SPARK_GRAFT_SF_DIR (default: sf0.1, as graft.Bench).
  * A family is data: default sizes, levels and mode plus a body that runs
  * its operators once and returns the work units and a `check`. The body
  * times only what it wraps in [[Meter.phase]]; input set-up stays off the
  * clock. The harness owns the rest: a fresh `local[level]` session per
  * run, one warm-up at n/8 on the first level, min-of-2 per point, and one
  * JSON line per family with `eff_a_to_b = (thr_b / thr_a) / (b / a)`,
  * thr = units / sec, for each consecutive pair of levels.
  *
  * Strong mode runs the same n at every level and requires `check` to be
  * equal at every point — an operator whose answer changes with
  * parallelism (or, in a size sweep, with corpus size) is broken, not
  * slow. Weak mode reads n per core (a point at c cores runs n·c); checks
  * are reported, not compared. A family run in the other mode without
  * `--n` rescales its default n by its first default level.
  */
object Sweep {

  /** One body run: the work units its phases processed, the values that
    * must not change across a strong sweep's points, and size-dependent
    * values that are only reported. */
  final case class Out(units: Long, check: Seq[(String, Any)],
      info: Seq[(String, Any)] = Nil)

  final case class Phase(name: String, sec: Double, shuffleMb: Double)

  /** A body run at `cores` over size `n`; its time is the sum of its phases. */
  final case class Point(cores: Int, n: Long, phases: Seq[Phase], out: Out) {
    def sec: Double = phases.map(_.sec).sum
  }

  /** Per-run instrument handed to a body: `phase` records `<name>_sec` and
    * `<name>_shuffle_mb`, draining the listener bus on both sides so the
    * shuffle-write total is complete. */
  final class Meter(spark: SparkSession, bytes: AtomicLong, val sfDir: String) {
    private val done = scala.collection.mutable.ArrayBuffer[Phase]()
    def phases: Seq[Phase] = done.toSeq
    def phase[T](name: String)(f: => T): T = {
      GraftListenerBus.drain(spark.sparkContext)
      val s0 = bytes.get()
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      GraftListenerBus.drain(spark.sparkContext)
      done += Phase(name, sec, (bytes.get() - s0) / 1e6)
      r
    }
  }

  type Body = (SparkSession, Int, Long, Meter) => Out
  final case class Family(n: Seq[Long], levels: Seq[Int], weak: Boolean, body: Body)

  val families: ListMap[String, Family] = ListMap(
    "flagship" -> Family(Seq(600L), Seq(2, 4, 8, 16, 32), weak = true, flagship),
    "calib" -> Family(Seq(60000000000L), Seq(1, 2, 4, 8, 16, 32), weak = false, calib),
    "cc_incr" -> Family(Seq(4000000L), Seq(32), weak = false, ccIncr),
    "crawl" -> Family(Seq(32000000L), Seq(8, 32), weak = false, crawl),
    "dbscan" -> Family(Seq(2000000L), Seq(8, 32), weak = false, dbscan(hot = false)),
    "dbscan_hotspot" -> Family(Seq(2000000L), Seq(8, 32), weak = false, dbscan(hot = true)),
    "dbscan_variants" -> Family(Seq(2000000L), Seq(32), weak = false, dbscanVariants),
    "dedup" -> Family(Seq(4L), Seq(8, 32), weak = true, dedup),
    "edit" -> Family(Seq(1000000L), Seq(8, 32), weak = false, edit),
    "geo_incr" -> Family(Seq(2000000L, 8000000L, 32000000L), Seq(32), weak = false, geoIncr),
    "graph" -> Family(Seq(16000000L), Seq(8, 32), weak = false, graph),
    "graph_fam" -> Family(Seq(8000000L), Seq(8, 32), weak = false, graphFam),
    "hex" -> Family(Seq(160000000L), Seq(8, 32), weak = false, hex),
    "incremental" -> Family(Seq(2L, 8L, 32L), Seq(32), weak = false, incremental),
    "pipeline" -> Family(Seq(1L), Seq(2, 8, 32), weak = true, pipeline),
    "s2" -> Family(Seq(160000000L), Seq(8, 32), weak = false, s2),
    "simhash" -> Family(Seq(2L), Seq(8, 32), weak = true, simhash),
    "sketch" -> Family(Seq(64000000L), Seq(8, 32), weak = false, sketch),
    "temporal" -> Family(Seq(32000000L), Seq(8, 32), weak = false, temporal),
    "temporal_kernel" -> Family(Seq(32000000L), Seq(8, 32), weak = false, temporalKernel),
    "text" -> Family(Seq(3000000L), Seq(8, 32), weak = false, text),
    "web_clean" -> Family(Seq(3000000L), Seq(8, 32), weak = false, webClean))

  def main(args: Array[String]): Unit = {
    val (flags, names) = parse(args.toList)
    val usage = "usage: graft.Sweep <family…> [--levels 8,32] [--n N[,N…]] " +
      s"[--mode strong|weak]; families: ${families.keys.mkString(" ")}"
    require(names.nonEmpty && names.forall(families.contains), usage)
    require(flags.keySet.subsetOf(Set("levels", "n", "mode")), usage)
    require(flags.get("mode").forall(Set("strong", "weak")), usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names.foreach { name =>
      val f = families(name)
      val weak = flags.get("mode").fold(f.weak)(_ == "weak")
      val levels = flags.get("levels").fold(f.levels)(_.split(",").map(_.trim.toInt).toSeq)
      val ns = flags.get("n").fold(
        if (weak == f.weak) f.n
        else if (weak) f.n.map(_ / f.levels.head)
        else f.n.map(_ * f.levels.head))(_.split(",").map(_.trim.toLong).toSeq)
      println(sweep(name, f, levels, ns, weak, sfDir))
    }
  }

  private def parse(args: List[String]): (Map[String, String], List[String]) = args match {
    case flag :: v :: rest if flag.startsWith("--") =>
      val (m, names) = parse(rest); (m + (flag.drop(2) -> v), names)
    case name :: rest => val (m, names) = parse(rest); (m, name :: names)
    case Nil => (Map.empty, Nil)
  }

  private def sweep(name: String, f: Family, levels: Seq[Int], ns: Seq[Long],
      weak: Boolean, sfDir: String): String = {
    def size(cores: Int, n: Long): Long = if (weak) n * cores else n
    run(f, levels.head, math.max(size(levels.head, ns.head) / 8, 1L), sfDir) // warm-up
    val points = for (n <- ns; c <- levels)
      yield Seq.fill(2)(run(f, c, size(c, n), sfDir)).minBy(_.sec)
    report(name, weak, points)
  }

  private def run(f: Family, cores: Int, n: Long, sfDir: String): Point = {
    val spark = Bench.makeSession(cores.toString)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val m = new Meter(spark, Scale.shuffleCounter(spark), sfDir)
      val out = f.body(spark, cores, n, m)
      Point(cores, n, m.phases, out)
    } finally { CacheBin.drain(); spark.stop() }
  }

  /** The sweep's JSON line. In strong mode every point's `check` must be
    * equal; efficiencies pair consecutive levels at the same per-level
    * (strong) or per-core (weak) size. */
  def report(family: String, weak: Boolean, points: Seq[Point]): String = {
    if (!weak) require(points.map(_.out.check).distinct.size == 1,
      s"$family: check drifted across points: " + points.map(p =>
        s"local${p.cores} n=${p.n} ${obj(p.out.check)}").mkString("; "))
    def thr(p: Point): Double = p.out.units / p.sec
    val key = (p: Point) => if (weak) p.n / p.cores else p.n
    val groups = points.map(key).distinct
    val effs = groups.flatMap { k =>
      val ps = points.filter(key(_) == k)
      ps.zip(ps.drop(1)).map { case (a, b) =>
        val suffix = if (groups.size > 1) s"_n$k" else ""
        s"eff_${a.cores}_to_${b.cores}$suffix" ->
          r3((thr(b) / thr(a)) / (b.cores.toDouble / a.cores))
      }
    }
    val pts = points.map { p =>
      obj(Seq("cores" -> p.cores, "n" -> p.n, "sec" -> r3(p.sec),
        "units" -> p.out.units, "units_per_sec" -> math.round(thr(p)),
        "shuffle_mb" -> r3(p.phases.map(_.shuffleMb).sum)) ++
        p.phases.flatMap(ph => Seq(s"${ph.name}_sec" -> r3(ph.sec),
          s"${ph.name}_shuffle_mb" -> r3(ph.shuffleMb))) ++
        Seq("check" -> Json(obj(p.out.check))) ++ p.out.info)
    }
    obj(Seq("family" -> family, "mode" -> (if (weak) "weak" else "strong"),
      "points" -> Json(pts.mkString("[", ",", "]"))) ++ effs)
  }

  private final case class Json(text: String)
  private def r3(d: Double): Double = math.rint(d * 1000) / 1000
  private def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    "\"" + k + "\":" + (v match {
      case Json(t) => t
      case s: String => "\"" + s + "\""
      case d: Double if d.isNaN || d.isInfinite => "null"
      case x => x.toString
    })
  }.mkString("{", ",", "}")

  /** Order-free integer checksum of a frame's rows: Σ crc32(cols) mod p. */
  private def ck(df: DataFrame, cols: String*): Long =
    df.agg(sum(crc32(concat_ws(":", cols.map(col): _*)) % 1000003L))
      .head().getLong(0)

  // ---- families ----------------------------------------------------------

  /** Flagship spatial join (Scale.flagship) over the events table
    * replicated n× — weak by default (600 replicas per core) so fixed
    * overheads don't dominate at high core counts. */
  private def flagship(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val rows = m.phase("flagship")(Scale.flagship(spark, m.sfDir, n.toInt, cores))
    Out(rows, Seq("rows" -> rows))
  }

  /** Machine ceiling: the pure-codegen canary kernel over n range rows. */
  private def calib(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    m.phase("kernel")(ScaleCalib.kernel(spark, n, cores * 2))
    Out(n, Nil)
  }

  /** Incremental component maintenance (Adjacency.incrementalComponents):
    * labeling a base graph once and folding in a small edge delta must
    * cost a fraction of re-solving the union, and give the IDENTICAL
    * labeling. The base is block-local power edges (3 per node inside
    * each 64-node block → n/64 components); the delta links every 100th
    * node of each even block to the next block, so component pairs
    * collapse (a ring would be degenerate: one component, checksum 0). */
  private def ccIncr(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val blk = 64L
    val holdout = 100
    val ids = spark.range(0L, n, 1L, cores * 2)
    val base = ids
      .select(col("id").as("a"), explode(sequence(lit(0L), lit(2L))).as("j"))
      .select(col("a"),
        (col("a") - col("a") % blk +
          (col("a") * 131L + lit(7L) * col("j")) % blk).as("b"))
    val delta = ids
      .where(col("id") % holdout === 0 &&
        col("id") % (2L * blk) < blk && col("id") + blk < n)
      .select(col("id").as("a"), (col("id") + blk).as("b"))
    val verts = ids.select(col("id").as("bid"))
    def checksum(labels: DataFrame): Long = labels
      .agg(sum(col("bid") * col("comp") % 1000003L)).head().getLong(0)
    val labels = m.phase("base_label") {
      val l = Adjacency.connectedComponents(verts, base)
        .persist(StorageLevel.MEMORY_AND_DISK)
      l.count(); l
    }
    val (incChk, nDelta) = m.phase("incr") {
      val r = Adjacency.incrementalComponents(labels, delta)
      (checksum(r), delta.count())
    }
    CacheBin.drain()
    labels.unpersist()
    val fullChk = m.phase("full_recompute")(
      checksum(Adjacency.connectedComponents(verts, base.unionByName(delta))))
    require(incChk == fullChk,
      s"incremental checksum $incChk != full recompute $fullChk")
    Out(n, Seq("delta_edges" -> nDelta, "checksum" -> incChk))
  }

  /** Crawl maintenance over range() column math: blocked Bloom build +
    * probe (constant 8 keys/word, even ids seen), a windowed crawl diff
    * (n/4 urls × 4 revisions across two windows) and mirror-host
    * detection (each content on 2 of n/64 hosts, so per-host load and
    * pair overlap stay constant and the self-join output is ∝ n). */
  private def crawl(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val base = spark.range(0L, n, 1L, cores * 2)
    val ckBloom = m.phase("bloom") {
      val urls = base.select(col("id"),
        concat(lit("https://synth.example/doc/"), col("id")).as("url"))
      val nWords = math.max(n / 8, 1L)
      val filt = Bloom.build(urls.filter(col("id") % 2 === 0), "url", nWords)
      ck(Bloom.probe(filt, urls, "url", nWords)
        .select(col("id"), col("maybe_seen").cast("string").as("seen")), "id", "seen")
    }
    val ckDiff = m.phase("diff") {
      val nUrls = math.max(n / 4, 1L)
      val snaps = base.select(
        concat(lit("u"), (col("id") % nUrls).cast("string")).as("url"),
        (lit(1000L) + expr(s"id div $nUrls") * 100L +
          (col("id") % nUrls % 2) * 250L).as("ts"),
        concat(lit("v"), expr(s"(id div $nUrls + id % $nUrls % 3) div 2")
          .cast("string")).as("rev"))
      ck(UrlOps.crawlDiff(snaps, "url", "ts", "rev", t0 = 1000L, t1 = 1200L, t2 = 2000L)
        .select(col("url"), coalesce(col("rev1"), lit("-")).as("r1"),
          coalesce(col("rev2"), lit("-")).as("r2"), col("status")),
        "url", "r1", "r2", "status")
    }
    val ckMir = m.phase("mirror") {
      val nHosts = math.max(n / 64, 2L)
      val cId = expr("id div 2")
      val host = when(col("id") % 2 === 0, pmod(cId, lit(nHosts)))
        .otherwise(pmod(cId * 31L + 7L, lit(nHosts)))
      val pages = base.select(
        concat(lit("h"), host.cast("string")).as("host"),
        concat(lit("c"), cId.cast("string")).as("ckey"))
      ck(WebGraph.mirrorHosts(pages, "host", "ckey", minShared = 1L, maxHostsPerContent = 8L),
        "host_a", "host_b", "shared", "n_a", "n_b")
    }
    Out(n, Seq("checksum" -> (ckBloom + ckDiff + ckMir)))
  }

  /** DBSCAN role census + label checksum at minPts 4. eps = 0.7·√(2M/n)
    * holds E[ε-neighbors] ≈ 3 at every n (supercritical: a giant
    * component exists, so the star rounds do real per-round volume). */
  private def census(spark: SparkSession, cores: Int, n: Long,
      dense: Boolean, hotspot: Boolean): Seq[(String, Any)] = {
    val parts = cores * 2
    val pts = if (hotspot) hotspotCloud(spark, n, parts) else uniformCloud(spark, n, parts)
    val eps = dbscanEps(n)
    // dense = measure the CONTRACTION plan: forced, so the cost-model
    // dispatch cannot route the sweep to the plain plan
    val out = if (dense) Dbscan.dbscanDense(pts, eps, 4, forceContraction = true)
      else Dbscan.dbscan(pts, eps, 4)
    val row = out.agg(
      sum(when(col("role") === "core", 1L).otherwise(0L)),
      sum(when(col("role") === "border", 1L).otherwise(0L)),
      sum(when(col("role") === "noise", 1L).otherwise(0L)),
      sum(pmod(col("cluster") * col("id"), lit(1000003L)))).head()
    Seq("n_core" -> row.getLong(0), "n_border" -> row.getLong(1),
      "n_noise" -> row.getLong(2), "label_checksum" -> row.getLong(3))
  }

  private def dbscanEps(n: Long): Double = 0.7 * math.sqrt(2000000.0 / n)

  /** Baseline DBSCAN on the uniform cloud, or (hot) the contraction plan
    * on the hotspot cloud — the regime where the baseline's all-pairs
    * clump volume does not fit a single host at full n. */
  private def dbscan(hot: Boolean)(spark: SparkSession, cores: Int, n: Long, m: Meter): Out =
    Out(n, m.phase("dbscan")(census(spark, cores, n, dense = hot, hotspot = hot)),
      Seq("eps" -> dbscanEps(n)))

  /** Baseline vs dense-cell contraction on both clouds: each cloud's two
    * variants must give identical invariants. */
  private def dbscanVariants(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val check = Seq(false, true).flatMap { hot =>
      val cloud = if (hot) "hotspot" else "uniform"
      val runs = Seq(false, true).map { dense =>
        val r = m.phase(s"${cloud}_${if (dense) "dense" else "baseline"}")(
          census(spark, cores, n, dense, hot))
        CacheBin.drain()
        r
      }
      require(runs.distinct.size == 1, s"variant invariants diverged ($cloud): $runs")
      runs.head.map { case (k, v) => s"${cloud}_$k" -> v }
    }
    Out(4 * n, check, Seq("eps" -> dbscanEps(n)))
  }

  /** xxhash64-uniform points in [0,1000)² — identical bits at any parallelism. */
  private def uniformCloud(spark: SparkSession, n: Long, parts: Int): DataFrame =
    spark.range(0L, n, 1L, parts).select(
      col("id"),
      (pmod(xxhash64(col("id")), lit(1000000L)) / 1000.0).as("x"),
      (pmod(xxhash64(col("id"), lit(1L)), lit(1000000L)) / 1000.0).as("y"))

  /** 80% of points in 2000 tight (0.4-unit) hotspots, 20% uniform noise. */
  private def hotspotCloud(spark: SparkSession, n: Long, parts: Int): DataFrame = {
    val cid = pmod(xxhash64(col("id"), lit(2L)), lit(2000L))
    val hx = pmod(xxhash64(cid), lit(999000L)) / 1000.0
    val hy = pmod(xxhash64(cid, lit(1L)), lit(999000L)) / 1000.0
    val inHot = pmod(xxhash64(col("id"), lit(9L)), lit(10L)) < 8L
    spark.range(0L, n, 1L, parts).select(
      col("id"),
      when(inHot, hx + pmod(xxhash64(col("id"), lit(3L)), lit(400L)) / 1000.0)
        .otherwise(pmod(xxhash64(col("id"), lit(5L)), lit(1000000L)) / 1000.0)
        .as("x"),
      when(inHot, hy + pmod(xxhash64(col("id"), lit(4L)), lit(400L)) / 1000.0)
        .otherwise(pmod(xxhash64(col("id"), lit(6L)), lit(1000000L)) / 1000.0)
        .as("y"))
  }

  /** The documents table replicated repl× with per-replica token suffixes,
    * so every shingle differs across replicas: planted near-dup pairs stay
    * within a replica and the exact pair count is repl × pairs(sf). */
  private def replicatedDocs(spark: SparkSession, sfDir: String, repl: Int,
      cores: Int): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("r", explode(sequence(lit(0), lit(repl - 1))))
      .select(
        (col("doc_id") * repl + col("r")).as("doc_id"),
        concat(
          regexp_replace(col("text"), lit(" "), concat(lit("_"), col("r"), lit(" "))),
          lit("_"), col("r")).as("text"))
      // the source parquet is 1-2 partitions; without this the whole
      // replicated corpus would compute signatures in 1-2 tasks
      .repartition(cores * 2, col("doc_id"))

  /** MinHash+LSH near-dups over n replicas (weak by default: 4 per core);
    * recall is measured against the unreplicated pair count × n, since
    * the band cap may drop hot random band collisions at scale. */
  private def dedup(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val base = Dedup.minhashNearDups(
      spark.read.parquet(s"${m.sfDir}/documents.parquet"), "doc_id", "text").count()
    CacheBin.drain()
    val d = replicatedDocs(spark, m.sfDir, n.toInt, cores)
    val nDocs = d.count()
    val pairs = m.phase("minhash")(Dedup.minhashNearDups(d, "doc_id", "text").count())
    Out(nDocs, Seq("docs" -> nDocs, "pairs" -> pairs, "base_pairs" -> base,
      "recall" -> pairs.toDouble / (base * n)))
  }

  /** SimHash near-dups (maxDist 8: 12 blocks, C(12,4) combo keys) over n
    * replicas (weak by default: 2 per core), on the capped production
    * path — the replicated corpus is dense in hamming-≤8 clusters, so the
    * uncapped output would grow quadratically with cluster size. */
  private def simhash(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    import spark.implicits._
    val d = replicatedDocs(spark, m.sfDir, n.toInt, cores)
    val nDocs = d.count()
    val pairs = m.phase("simhash") {
      val docsDs = d
        .select(col("doc_id"),
          filter(split(col("text"), " "), x => length(x) > lit(0)).as("toks"))
        .filter(size(col("toks")) > 0)
        .as[(Long, Seq[String])]
      Dedup.simhashNearDups(docsDs, maxDist = 8, maxBucket = 64).count()
    }
    Out(nDocs, Seq("docs" -> nDocs, "pairs" -> pairs))
  }

  /** Edit-distance near-dups (PassJoin, tau 3) over a corpus with planted
    * twins: md5-chained hex text of length 32·(4 + id%4); every 16th id
    * gets a twin with exactly 3 substitutions outside the hex alphabet.
    * Unrelated docs pair only at equal length and differ in ~94% of
    * positions, so the output is exactly n/16 pairs, every d == 3. */
  private def edit(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val base = spark.range(0L, n, 1L, cores * 2)
      .select(col("id").as("doc_id"),
        expr("substring(" + "concat(" +
          (0 until 7).map(j => s"md5(concat(cast(id as string), ':', '$j'))")
            .mkString(",") + "), 1, cast(32 * (4 + id % 4) as int))").as("text"))
    val twins = base.filter(col("doc_id") % 16 === 0)
      .select((col("doc_id") + n).as("doc_id"),
        expr("overlay(overlay(overlay(text placing 'Z' from 11) " +
          "placing 'Q' from cast(length(text)/2 as int)) " +
          "placing 'X' from length(text) - 4)").as("text"))
    val d = base.unionByName(twins)
    val nDocs = d.count()
    val r = m.phase("edit")(EditDedup.nearDups(d, "doc_id", "text", tau = 3)
      .agg(count(lit(1)), coalesce(min("d"), lit(-1L)), coalesce(max("d"), lit(-1L)))
      .head())
    val (pairs, maxD) = (r.getLong(0), r.getLong(2))
    val expected = (n + 15) / 16
    require(pairs == expected && maxD == 3,
      s"planted-pair invariant broke at local[$cores]: pairs=$pairs (expected $expected), maxD=$maxD")
    Out(nDocs, Seq("docs" -> nDocs, "pairs" -> pairs, "expected_pairs" -> expected))
  }

  private val Langs = Seq("en", "es", "de", "fr", "pt", "it")

  /** Synthetic page rows over range(rows) filtered by `filterExpr`: url
    * group = id div 4; every attribute derives from the id, so a flipped
    * survivor changes lang, chars and geotag at once. */
  private def geoPages(spark: SparkSession, rows: Long, filterExpr: String): DataFrame =
    spark.range(rows).filter(expr(filterExpr))
      .select(
        col("id").as("doc_id"),
        element_at(typedLit(Langs), (col("id") % 6 + 1).cast("int")).as("lang"),
        (col("id") * 31 % 5000 + 50).as("n_chars"),
        concat(lit("https://h"), (col("id") / 4 % 1000).cast("long"),
          lit(".example/p/"), (col("id") / 4).cast("long")).as("url_norm"))

  private def collectReport(df: DataFrame): Seq[(Long, String, Long, Long)] =
    df.select("region_id", "lang", "n_docs", "tot_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  /** Crawl-append fold of the web-geo pipeline (GeoPipeline's mergeable
    * canonical + ±1-retraction algebra) over n url groups: the base holds
    * ids 4g+1..4g+3, the batch the 4g ids of the first 500000 groups (at
    * most n: the batch retracts existing urls, so it is constant across a
    * sweep whose n are all ≥ 500000), and every batch doc flips its url's
    * survivor — the worst case for the delta path. The folded report must
    * equal the full recompute over base ∪ batch. */
  private def geoIncr(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val base = geoPages(spark, 4L * n, "id % 4 != 0")
    val batch = geoPages(spark, 4L * math.min(500000L, n), "id % 4 = 0")
    val (baseCanon, baseReport, nState) = m.phase("build") {
      val canon = CacheBin.persist(GeoPipeline.canonPartial(base))
      val nState = canon.count()
      val report = CacheBin.persist(GeoPipeline.reportOf(canon))
      report.count()
      (canon, report, nState)
    }
    val nBatch = batch.count()
    val folded = m.phase("fold")(
      collectReport(GeoPipeline.incrementalReport(baseCanon, baseReport, batch)))
    val full = m.phase("full")(collectReport(GeoPipeline.reportOf(
      GeoPipeline.canonPartial(base.unionByName(batch)))))
    require(folded == full, s"folded report differs from the full recompute at n=$n")
    Out(nState, Seq("match" -> true), Seq("state_urls" -> nState, "batch_docs" -> nBatch))
  }

  /** Power edges id·131+7j mod n, 1–4 per node (the q_pagerank rule). */
  private def powerEdges(spark: SparkSession, n: Long, parts: Int): DataFrame =
    spark.range(0L, n, 1L, parts)
      .select(col("id").as("src"), explode(sequence(lit(0L), col("id") % 4)).as("j"))
      .select(col("src"), ((col("src") * 131L + lit(7L) * col("j")) % n).as("dst"))

  /** Σ(id%4+1) over range(n): the power-edge count. */
  private def powerEdgeCount(n: Long): Long = n / 4 * 10 + (n % 4) * (n % 4 + 1) / 2

  /** 5 PageRank iterations over the power-edge graph; units are
    * edge-iterations and rank mass must stay 1. */
  private def graph(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val iters = 5
    val edges = powerEdges(spark, n, cores * 2)
    val mass = m.phase("pagerank")(
      WebGraph.pageRank(edges, n, iters).agg(sum("rank")).head().getDouble(0))
    require(math.abs(mass - 1.0) < 1e-6, s"rank mass drifted: $mass")
    val nEdges = powerEdgeCount(n)
    Out(nEdges * iters, Seq("edges" -> nEdges, "rank_mass" -> math.rint(mass * 1e6) / 1e6))
  }

  /** Triangles, 7-core, multi-source BFS and 8-hop deterministic walks on
    * the power edges plus a ±1/±2 ring. */
  private def graphFam(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val base = spark.range(0L, n, 1L, cores * 2)
    val ring = base.select(col("id").as("src"), ((col("id") + 1L) % n).as("dst"))
      .unionByName(base.select(col("id").as("src"), ((col("id") + 2L) % n).as("dst")))
    val e = powerEdges(spark, n, cores * 2).unionByName(ring)
    val tri = m.phase("tri")(WebGraph.triangleCounts(e)
      .agg(sum("n_triangles")).head().getLong(0) / 3) // 3 vertices/triangle
    CacheBin.drain()
    val core = m.phase("kcore")(WebGraph.kCore(e, k = 7).agg(count(lit(1)), sum("deg")).head())
    val seeds = spark.range(0L, n, 100L, cores).select(col("id").as("v"))
    val bfs = m.phase("bfs")(WebGraph.bfsDepth(e, seeds)
      .agg(sum(col("depth") * col("v") % 1000003L)).head().getLong(0))
    CacheBin.drain()
    // (rows, Σ start·step·v mod p) pins bit-identical walk paths
    val walk = m.phase("walk")(WebGraph.randomWalks(e, seeds, 8)
      .agg(count(lit(1)), sum(col("start") * col("step") * col("v") % 1000003L)).head())
    Out(powerEdgeCount(n) + 2 * n, Seq("triangles" -> tri,
      "core7_verts" -> core.getLong(0), "core7_degsum" -> core.getLong(1),
      "bfs_checksum" -> bfs, "walk_rows" -> walk.getLong(0),
      "walk_checksum" -> walk.getLong(1)))
  }

  /** Hex family on the SynthGeo.points lattice formula over range(n): the
    * 6-neighbor ring smoothing (q_hex_ring's body) and the hex-keyed zone
    * join + per-zone rollup (q_hex_join's zone side, broadcast probe). */
  private def hex(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val pts = spark.range(0L, n, 1L, cores * 2)
      .select(col("id"),
        (col("id") * lit(7919L) % lit(10000L) / lit(100.0)).as("x"),
        (col("id") * lit(104729L) % lit(10000L) / lit(100.0)).as("y"))
    val zoneSide = HexGrid.zoneSide(spark, 7.5)
    val ckRing = m.phase("ring")(ck(HexGrid.ringSmooth(pts, 2.5), "cell", "n", "ring_n"))
    val ckJoin = m.phase("join")(ck(pts
      .withColumn("cell", HexGrid.cellCol(col("x"), col("y"), 7.5))
      .join(broadcast(zoneSide), "cell")
      .where(abs(col("x") - col("zcx")) + abs(col("y") - col("zcy")) < col("zr"))
      .groupBy("zone_id").agg(count(lit(1)).as("n")), "zone_id", "n"))
    Out(n, Seq("checksum" -> (ckRing + ckJoin)))
  }

  /** Incremental ingest over an n-replica corpus: build the bucketed
    * minhash + exact-key indexes, probe them with a constant batch (every
    * 10th replica-0 doc, remapped ids — its duplicates sit in replica 0 at
    * every size, so the pair count must not change with n), and contrast
    * the one-shot self-join over corpus ∪ batch. */
  private def incremental(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val corpus = replicatedDocs(spark, m.sfDir, n.toInt, cores)
    val nCorpus = corpus.count()
    m.phase("build") {
      Dedup.writeMinhashIndex(corpus, "doc_id", "text", "mh_scale_idx", cores * 2)
      Dedup.writeDedupIndex(corpus, substring(col("text"), 1, 12), "ex_scale_idx", cores * 2)
    }
    val batch = replicatedDocs(spark, m.sfDir, 1, cores)
      .filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"))
    val nBatch = batch.count()
    CacheBin.drain()
    val (pairs, newKeys) = m.phase("probe")((
      Dedup.incrementalNearDups(batch, "doc_id", "text", "mh_scale_idx").count(),
      Dedup.incrementalNew(batch, "doc_id", substring(col("text"), 1, 12), "ex_scale_idx")
        .count()))
    m.phase("oneshot")(
      Dedup.minhashNearDups(corpus.unionByName(batch), "doc_id", "text").count())
    Out(nCorpus, Seq("batch_docs" -> nBatch, "pairs" -> pairs, "new_keys" -> newKeys),
      Seq("corpus_docs" -> nCorpus))
  }

  /** End-to-end AppRun.runMulti over n coordinate-disjoint synthetic
    * municipalities (weak by default: one per core). Driver heap is read
    * after a blocking cache drain: the chain keeps no unbounded driver
    * state, so it must stay ~flat as the municipality count grows. */
  private def pipeline(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val muns = n.toInt
    val (cons, parcels, addrs) = SynthMuni.inputs(spark, m.sfDir, nMuns = muns)
    val docs = m.phase("pipeline")(AppRun.runMulti(
      spark, cons, parcels, addrs, SynthMuni.munOfFor(muns)).taskDocs.count())
    CacheBin.drain(blocking = true)
    System.gc(); Thread.sleep(200)
    val rt = Runtime.getRuntime
    Out(docs, Seq("task_docs" -> docs), Seq("muns" -> muns,
      "driver_heap_mb" -> (rt.totalMemory() - rt.freeMemory()) / (1024L * 1024L)))
  }

  /** Spherical family over synthetic geotags (the oracle-gated lattice):
    * S2 level-13 encode + level-6 tile rollup, and the admin-region join
    * (q_geo_join's region side, broadcast probe) + per-region rollup. */
  private def s2(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val docs = spark.range(0L, n, 1L, cores * 2)
      .select(col("id"),
        SynthGeo.latColOf(col("id")).as("lat"),
        SynthGeo.lonColOf(col("id")).as("lon"))
    val regionSide = S2Grid.regionSide(spark, 6)
    val ckTiles = m.phase("tiles")(ck(docs
      .select(S2Grid.cellCol(col("lat"), col("lon"), 13).as("cell13"))
      .select(S2Grid.parentCol(col("cell13"), 13, 6).as("cell6"))
      .groupBy("cell6").agg(count(lit(1)).as("n")), "cell6", "n"))
    val ckJoin = m.phase("join")(ck(docs
      .withColumn("cell", S2Grid.cellCol(col("lat"), col("lon"), 6))
      .join(broadcast(regionSide), "cell")
      .where(abs(col("lat") - col("clat")) + abs(col("lon") - col("clon")) < col("rr"))
      .groupBy("region_id").agg(count(lit(1)).as("n")), "region_id", "n"))
    Out(n, Seq("checksum" -> (ckTiles + ckJoin)))
  }

  /** Count-Min (4×4096) over a zipf-ish token stream probed with the
    * 4096-token vocabulary, and HLL registers (b 11, 8 groups, ~n/16
    * distincts). The HLL checksum covers the integer registers only: the
    * estimate's double summation order varies with partitioning (it still
    * runs, via its row count). */
  private def sketch(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val base = spark.range(0L, n, 1L, cores * 2)
    val ckCm = m.phase("cm") {
      val tok = concat(lit("t"),
        when(col("id") % 64 < 32, col("id") % 8) // heavy head
          .otherwise(col("id") % 4096).cast("string"))
      val sk = CountMin.build(base.select(tok.as("w")), "w", depth = 4, width = 4096L)
      val vocab = spark.range(0L, 4096L)
        .select(concat(lit("t"), col("id").cast("string")).as("w"))
      ck(CountMin.estimate(sk, vocab, "w", depth = 4, width = 4096L), "w", "est")
    }
    val ckHll = m.phase("hll") {
      val keyed = base.select((col("id") % 8).cast("string").as("g"),
        concat(lit("k"), (col("id") % math.max(n / 16, 1L)).cast("string")).as("k"))
      val regs = Stats.hllRegisters(keyed, "g", "k", bucketBits = 11)
      ck(regs, "g", "bucket", "r") + Stats.hllEstimate(regs, "g", 11).count()
    }
    Out(n, Seq("checksum" -> (ckCm + ckHll)))
  }

  /** As-of join (n/16 keys × 8 snapshots probed 8×, incl. a before-first
    * probe), a range join of corpus points against a constant broadcast
    * catalog of 16384 intervals (domain 2^24, bucket 4096 ≥ max duration)
    * and gap sessionization (n/64 users × 64 events, ~700 s steps against
    * a 1000 s gap). */
  private def temporal(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val base = spark.range(0L, n, 1L, cores * 2)
    val ckAsof = m.phase("asof") {
      val nKeys = math.max(n / 16, 1L)
      val key = col("id") % nKeys
      val seq = col("id") / nKeys // 0..15
      val snaps = base.filter(seq < 8)
        .select(key.as("k"), (seq * 1000L).as("ts"), seq.cast("string").as("rev"))
      val probes = base.filter(seq >= 8)
        .select(key.as("k"), ((seq - 8) * 1000L - 500L + key % 1500L).as("qts"))
      ck(Temporal.asofJoin(probes, snaps, "k", "qts", "ts", Seq("rev"))
        .select(col("k"), col("qts"),
          coalesce(col("rev"), lit("none")).as("rev"),
          coalesce(col("asof_ts"), lit(-1L)).as("asof_ts")), "k", "qts", "rev", "asof_ts")
    }
    val ckRange = m.phase("range") {
      val domain = 1L << 24
      val iv = base.filter(col("id") < 16384L).select(
        col("id").as("iid"), ((col("id") * 7919L) % domain).as("lo"))
        .withColumn("hi", col("lo") + 500L + (col("iid") % 11L) * 200L)
      val pts = base.select(col("id").as("pid"), ((col("id") * 104729L) % domain).as("pts_ts"))
      ck(Temporal.rangeJoin(pts, "pts_ts", broadcast(iv), "lo", "hi", 4096L)
        .groupBy("iid").agg(count(lit(1)).as("np"),
          min("pts_ts").as("mn"), max("pts_ts").as("mx")), "iid", "np", "mn", "mx")
    }
    val ckSess = m.phase("sess") {
      val nUsers = math.max(n / 64, 1L)
      val ev = base.select((col("id") % nUsers).as("u"), col("id").as("eid"),
        ((col("id") / nUsers) * 700L + (col("id") % 13L) * 150L).as("ts"))
      ck(Temporal.sessionize(ev, "u", "ts", "eid", 1000L)
        .groupBy("u").agg(max("session_no").as("ns"), count(lit(1)).as("ne")),
        "u", "ns", "ne")
    }
    Out(n, Seq("checksum" -> (ckAsof + ckRange + ckSess)))
  }

  /** The temporal family's irreducible kernel: one hash exchange + one
    * per-key sort (a bare row_number window) over rows width-matched to
    * the battery's (~40 B) — this host's exchange+sort ceiling. */
  private def temporalKernel(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val nKeys = math.max(n / 16, 1L)
    m.phase("kernel")(spark.range(0L, n, 1L, cores * 2)
      .select((col("id") % nKeys).as("k"), col("id").as("v"),
        (col("id") * 31L).as("v2"), conv(col("id"), 10, 16).as("s"))
      .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("v")))
      .agg(sum(col("rn") % 1000003L), max(length(col("s"))), max("v2")).head())
    Out(n, Nil)
  }

  /** (doc_id, text, lang): 40 words from a Zipf-head rule j·(doc%19+j) %
    * 4096 over range() — no files, no RNG state. */
  private def synthDocs(spark: SparkSession, n: Long, parts: Int): DataFrame =
    spark.range(0L, n, 1L, parts)
      .select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(1L), lit(40L)),
          j => concat(lit("w"), (j * (col("id") % 19L + j)) % 4096L)), " ")
          .as("text"),
        when(col("id") % 5L === 0L, "en").otherwise("xx").as("lang"))

  /** TF-IDF top-3, DSIR importance weights and BPE pair stats; units are
    * doc-tokens. Importance weights are 6-dp-rounded and folded to
    * integers before the cross-doc sum, so the checksum is exact. */
  private def text(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val docs = synthDocs(spark, n, cores * 2)
    val tfidf = m.phase("tfidf")(ck(Relevance.tfIdfTopK(docs, "doc_id", col("text"), 3),
      "doc_id", "rank", "term"))
    val imp = m.phase("importance")(Relevance
      .importanceWeights(docs, "doc_id", col("text"), col("lang") === "en", 64)
      .agg(sum(round(col("weight") * 1000000).cast("long"))).head().getLong(0))
    val bpe = m.phase("bpe")(BpeStats.topPairs(docs, col("text"), 20)
      .agg(sum("n")).head().getLong(0))
    Out(n * 40, Seq("checksum" -> (tfidf + bpe + imp)))
  }

  /** URL canonicalization + blocklist + 4:1 collapse, line cleanup, the
    * 8-shard deterministic shuffle, contiguous global indexing and
    * stratified eval sampling over synthDocs. */
  private def webClean(spark: SparkSession, cores: Int, n: Long, m: Meter): Out = {
    val docs = synthDocs(spark, n, cores * 2)
    val ckUrl = m.phase("url") {
      val pages = docs.select(col("doc_id"),
        UrlOps.normalize(UrlOps.messyUrl(expr("doc_id div 4"), col("doc_id"))).as("url_norm"))
      ck(UrlOps.filterAndCollapse(pages, "doc_id", "url_norm"),
        "url_norm", "canonical_id", "n_dups")
    }
    val ckLines = m.phase("lines") {
      val kept = filter(TextFns.fixedLines(col("text"), 5),
        l => !concat(lit(" "), l, lit(" ")).contains(" w7 "))
      ck(docs.select(col("doc_id"), size(kept).cast("long").as("n_kept"),
        array_join(kept, "\n").as("text_clean")), "doc_id", "n_kept", "text_clean")
    }
    val ckShard = m.phase("shard")(
      ck(Sampling.shardShuffle(docs, "doc_id", 8), "doc_id", "shard", "pos"))
    val ckIdx = m.phase("index")(ck(Sampling.globalIndex(docs, "doc_id"), "doc_id", "idx"))
    val ckStrat = m.phase("strat")(ck(Sampling.stratifiedSample(docs, "doc_id", "lang", 20),
      "doc_id", "lang", "pos"))
    Out(n, Seq("checksum" -> (ckUrl + ckLines + ckShard + ckIdx + ckStrat)))
  }
}
