package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hyperlink-graph operators over the pages table (BASELINE.json
  * input_hint shape): href extraction from the raw `html` bytes, host-level
  * edge aggregation, and fixed-iteration PageRank.
  *
  * The reference pipeline's analog is its xlink-reference resolution —
  * regex-extracting typed cross-references out of raw markup and joining
  * on them (catatom2osm/geo/layer/address.py:42-46, base.py:88-155) — here
  * generalized to the web corpus: anchors out of HTML, then graph
  * aggregation over the extracted references.
  *
  * 100 TB shape:
  *  - `hostEdges` is scan-shaped: regexp_extract_all + explode inside one
  *    whole-stage-codegen pass over the html column; no shuffle until the
  *    downstream aggregate, whose key is a short host string (or an 8-byte
  *    doc id for the doc-level graph).
  *  - `pageRank` is the classic iterative join: out-degrees are computed
  *    once and cached; each iteration is one shuffle of the rank table on
  *    the edge key plus one aggregate on dst. Edges dominate and are
  *    persisted pre-partitioned on src so every iteration's join reuses
  *    the same exchange; ranks (one double per node) are the only data
  *    that moves per round. Lineage is cut with localCheckpoint every few
  *    iterations so long runs do not accumulate plan depth.
  */
object WebGraph {

  /** All href targets in an html payload, by real regex over the decoded
    * bytes (Spark must *recover* the links; the oracle regenerates them
    * arithmetically from the synthesis rule). */
  def extractLinks(html: Column): Column =
    regexp_extract_all(decode(html, "utf-8"), lit("href=\"([^\"]+)\""), lit(1))

  private def hostOf(url: Column): Column =
    regexp_extract(url, "https://([^/]+)/", 1)

  private def docIdOf(url: Column): Column =
    regexp_extract(url, "/doc/([0-9]+)$", 1).cast("long")

  /** pages -> one row per extracted link: (src_id, src_host, dst_id,
    * dst_host). Pure scan + explode — the shuffle belongs to whatever
    * aggregate consumes it. */
  def linkEdges(pages: DataFrame): DataFrame =
    pages
      .select(docIdOf(col("url")).as("src_id"), hostOf(col("url")).as("src_host"),
        explode(extractLinks(col("html"))).as("link"))
      .select(col("src_id"), col("src_host"),
        docIdOf(col("link")).as("dst_id"), hostOf(col("link")).as("dst_host"))

  /** pages -> one row per anchor: (src_id, dst_id, anchor). Hrefs and
    * their inner texts are extracted as parallel arrays from the same
    * scan and zipped — still one codegen pass, no shuffle. */
  def anchorEdges(pages: DataFrame): DataFrame =
    pages
      .select(docIdOf(col("url")).as("src_id"),
        explode(arrays_zip(
          extractLinks(col("html")),
          regexp_extract_all(decode(col("html"), "utf-8"),
            lit(">([^<>]+)</a>"), lit(1)))).as("z"))
      .select(col("src_id"), docIdOf(col("z.0")).as("dst_id"),
        col("z.1").as("anchor"))

  /** Per-target anchor-text rollup — the web-corpus signal search/quality
    * pipelines mine (what OTHER pages call this one): (dst_id, n_anchors,
    * anchors) with the texts in lexicographic order so the aggregate is
    * partitioning-invariant. One shuffle on the 8-byte target id. */
  def anchorText(pages: DataFrame): DataFrame =
    anchorEdges(pages)
      .groupBy("dst_id")
      .agg(count(lit(1)).as("n_anchors"),
        array_join(array_sort(collect_list(col("anchor"))), " ").as("anchors"))

  /** Streaming-compatible host-graph rollup over tumbling event-time
    * windows: (bucket, src_host, dst_host, n_links), where the event time
    * is recovered FROM the url (doc_id % 1800 seconds — deterministic, so
    * the DuckDB oracle replays the window arithmetically) and bucket is
    * the 5-minute window start in 300-second units. Link extraction is
    * the same stateless codegen scan as the batch path; only the window
    * aggregate is stateful. Run in complete mode for bounded backfills
    * (the established zoneWindowCounts shape); an unbounded live stream
    * would add a watermark and append mode, trading the final open
    * windows for state eviction. */
  def hostWindowCounts(pages: DataFrame): DataFrame =
    pages
      .select(timestamp_seconds(docIdOf(col("url")) % 1800L).as("ets"),
        hostOf(col("url")).as("src_host"),
        explode(extractLinks(col("html"))).as("link"))
      .select(col("ets"), col("src_host"), hostOf(col("link")).as("dst_host"))
      .groupBy(window(col("ets"), "5 minutes"), col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"))
      .select((unix_micros(col("window.start")) / lit(300000000L))
        .cast("long").as("bucket"),
        col("src_host"), col("dst_host"), col("n_links"))

  /** Host-to-host edge rollup: (src_host, dst_host, n_links, n_dst_docs).
    * One hash aggregate on a pair of short host keys. */
  def hostGraph(pages: DataFrame): DataFrame =
    linkEdges(pages)
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("dst_id")).as("n_dst_docs"))

  /** Log2-binned in/out-degree distribution over (src, dst) long edges —
    * the power-law profile a crawl health check reads (Broder et al. 2000
    * web-graph structure). Returns (side ∈ 'in'|'out', bin, n_docs,
    * min_deg, max_deg) where bin = ⌊log2(deg+1)⌋ computed as
    * length(bin(deg+1))−1 — INTEGER bit-length, never a float log whose
    * last-ulp error could flip a floor at exact powers of two (the same
    * exactness discipline as the Morton/rollup family).
    *
    * 100 TB shape: per-node degree is ONE map-side-combining aggregate on
    * the 8-byte node id per side; zero-degree nodes re-enter via a left
    * join from the node table (also id-keyed). The bin rollup's exchange
    * is bounded by 64 bins × partitions — sketch-sized, like the
    * Count-Min family. Hot bins (the deg-0/1 mass) are single bounded
    * partial rows, not groups. */
  def degreeDistribution(edges: DataFrame, ids: DataFrame): DataFrame = {
    def oneSide(key: String, name: String): DataFrame = {
      val deg = edges.groupBy(col(key).as("id")).agg(count(lit(1)).as("deg"))
      ids.join(deg, Seq("id"), "left")
        .select(coalesce(col("deg"), lit(0L)).as("deg"))
        .select(lit(name).as("side"),
          (length(bin(col("deg") + 1)) - 1).cast("long").as("bin"),
          col("deg"))
        .groupBy("side", "bin")
        .agg(count(lit(1)).as("n_docs"),
          min("deg").as("min_deg"), max("deg").as("max_deg"))
    }
    oneSide("src", "out").unionByName(oneSide("dst", "in"))
  }

  /** Fixed-iteration PageRank over (src, dst) long edges covering nodes
    * 0..n-1 with no dangling nodes (every synthetic page links out).
    * Returns (id, rank). Damping 0.85, uniform start 1/n. */
  def pageRank(edges: DataFrame, n: Long, iters: Int,
      damping: Double = 0.85, teleport: Double = 0.15): DataFrame = {
    val spark = edges.sparkSession
    val nodes = graft.CacheBin.persist(
      spark.range(n).select(col("id")).repartition(col("id"))
        .sortWithinPartitions("id"))
    // teleport is a caller literal (not 1-damping): 1.0-0.85 is
    // 0.15000000000000002 in IEEE doubles, one ulp off the 0.15 the SQL
    // oracle parses — bit-parity needs the same literal on both sides
    // before the shared /n and FMA-free + are applied
    propagate(edges, nodes, lit(1.0 / n), lit(teleport / n), iters, damping)
  }

  /** Fixed-iteration TrustRank (Gyöngyi/Garcia-Molina/Pedersen 2004):
    * PageRank whose teleport mass lands ONLY on a vetted seed set — trust
    * flows out of known-good pages and decays with distance, so spam farms
    * far from any seed score ≈ 0 however densely they interlink. The
    * standard seeded anti-spam score next to [[kCore]]'s structural one.
    *
    * The teleport/|S| and 1/|S| constants are computed as single IEEE
    * divisions of exact operands so the SQL oracle reproduces them
    * bit-for-bit. Requires every node to have out-degree ≥ 1 (the
    * synthetic rule guarantees it; dangling mass would otherwise leak). */
  def trustRank(edges: DataFrame, n: Long, seeds: DataFrame, iters: Int,
      damping: Double = 0.85, teleport: Double = 0.15): DataFrame = {
    val spark = edges.sparkSession
    // seed hygiene: dedup (a duplicate seed row would fan out the node
    // join and double-count that node's mass every iteration) and count
    // |S| from the NODE table, not the raw input — a stale seed id
    // outside [0, n) would otherwise split teleport mass across rows that
    // never receive it, silently deflating every score
    val nodes = graft.CacheBin.persist(
      spark.range(n).select(col("id"))
        .join(seeds.select(col("v").as("id")).distinct()
          .withColumn("is_seed", lit(true)), Seq("id"), "left")
        .select(col("id"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
        .repartition(col("id")).sortWithinPartitions("id"))
    val nSeeds = nodes.filter(col("is_seed")).count()
    require(nSeeds > 0, "trustRank needs a non-empty in-range seed set")
    def onSeeds(v: Double) = when(col("is_seed"), lit(v)).otherwise(lit(0.0))
    propagate(edges, nodes, onSeeds(1.0 / nSeeds), onSeeds(teleport / nSeeds),
      iters, damping)
  }

  /** The rank-propagation loop of [[pageRank]] and [[trustRank]]: `iters`
    * rounds of rank ← teleport + damping · Σ(in-neighbour rank / out-degree)
    * over `nodes` (keyed by id, hash(id)-partitioned and id-sorted),
    * starting from `init`. `init` and `teleport` are columns over `nodes`.
    *
    * Per iteration: join ranks into the cached degree-annotated edge set
    * (shuffle = one double per node), aggregate contributions on dst
    * (partial map-side sums first), left-join back onto the node table so
    * in-degree-0 nodes keep the teleport mass. localCheckpoint every 5
    * rounds cuts lineage the same way Adjacency.connectedComponents does.
    */
  private def propagate(edges: DataFrame, nodes: DataFrame, init: Column,
      teleport: Column, iters: Int, damping: Double): DataFrame = {
    // The edge table is exchanged and sorted exactly ONCE. Partitioned AND
    // sorted on src before persisting, the cached scan reports hash(src)
    // partitioning + src ordering, so every iteration's sort-merge joins
    // against it are exchange-free and sort-free. (The first cut joined a
    // separately-aggregated degree table back onto edges — three full-edge
    // exchanges before the first iteration — and re-sorted edges inside
    // every iteration's SMJ: measured 0.23 scaling efficiency on a
    // 10M-edge sweep. The edge movement, not the rank math, was the job.)
    val edgesP = graft.CacheBin.persist(
      edges.repartition(col("src")).sortWithinPartitions("src"))
    // degrees fall out of the persisted layout with NO exchange (aggregate
    // key == partitioning key); sorted + persisted so the per-iteration
    // rank⨝deg SMJ is exchange-free and sort-free too
    val deg = graft.CacheBin.persist(
      edgesP.groupBy("src").agg(count(lit(1)).cast("double").as("deg"))
        .sortWithinPartitions("src"))
    // the mass join's left side (nodes) never moves either, and each new
    // rank table comes out of that SMJ already hash(id)-partitioned and
    // id-sorted for the NEXT iteration's joins — steady state is one
    // exchange per iteration (the partially-aggregated per-dst mass)
    var ranks = nodes.select(col("id"), init.as("rank"))
    for (it <- 1 to iters) {
      // per-src outgoing mass first (node-sized join — one double per
      // src), THEN the edge join: the big table only ever streams through
      // a zero-move SMJ, and rank/deg is computed once per src, not once
      // per edge (bit-identical: the per-edge value is the same double)
      val outMass = ranks
        .join(deg, ranks("id") === deg("src"))
        .select(col("src"), (col("rank") / col("deg")).as("c"))
      val contrib = edgesP
        .join(outMass, "src")
        .groupBy("dst").agg(sum("c").as("mass"))
      ranks = nodes
        .join(contrib, nodes("id") === contrib("dst"), "left")
        .select(col("id"),
          (teleport + lit(damping) * coalesce(col("mass"), lit(0.0))).as("rank"))
      if (it % 5 == 0) ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Fixed-iteration HITS (Kleinberg hubs & authorities) over (src, dst)
    * long edges covering nodes 0..n-1. Returns (id, auth, hub) after
    * `iters` full (auth-then-hub) updates, UNNORMALIZED: with the all-ones
    * start every score stays an exactly-representable integer (sums of
    * integers < 2^53), so the result is bit-identical across engines and
    * summation orders — no per-round normalization constant whose
    * floating-point value would depend on reduction order.
    *
    * 100 TB shape: TWO static edge layouts — hash(src)-partitioned+sorted
    * and hash(dst)-partitioned+sorted — are built once (the auth update
    * joins edges on src, the hub update on dst; one layout would force a
    * full-edge exchange every half-round). Per half-round the only moving
    * data is one double per node: a node-sized SMJ against the matching
    * edge layout, a partially-aggregated mass exchange, and a left join
    * back onto the cached node range. Same steady state as [[pageRank]].
    */
  def hits(edges: DataFrame, n: Long, iters: Int): DataFrame = {
    // Exactness bound: unnormalized scores grow ~ (avg degree)^2 per full
    // round, and the integer-exactness contract (and q_hits's long cast)
    // holds only while every score stays below 2^53 — past it, double
    // sums become reduction-order-dependent and the two engines can
    // round the cast differently. 2^53 ≈ 9e15 gives deg²·iters headroom
    // like 10^3-degree graphs for ~5 rounds; the guard keeps callers from
    // silently leaving the exact regime (normalize externally if more
    // rounds are needed — HITS converges in a handful anyway).
    require(iters >= 1 && iters <= 8,
      s"hits: iters=$iters outside the integer-exact regime (1..8); " +
        "normalize between rounds if you need more")
    val spark = edges.sparkSession
    val bySrc = graft.CacheBin.persist(
      edges.repartition(col("src")).sortWithinPartitions("src"))
    // byDst derives FROM the persisted bySrc, not from `edges`: the edge
    // synthesis upstream (html scan + href regex extraction) runs once,
    // and the second layout pays only its own exchange
    val byDst = graft.CacheBin.persist(
      bySrc.repartition(col("dst")).sortWithinPartitions("dst"))
    val nodes = graft.CacheBin.persist(
      spark.range(n).select(col("id")).repartition(col("id"))
        .sortWithinPartitions("id"))
    var hub = nodes.select(col("id"), lit(1.0).as("hub"))
    var auth = nodes.select(col("id"), lit(1.0).as("auth"))
    for (it <- 1 to iters) {
      val aMass = bySrc.join(hub, bySrc("src") === hub("id"))
        .groupBy("dst").agg(sum("hub").as("m"))
      auth = nodes.join(aMass, nodes("id") === aMass("dst"), "left")
        .select(col("id"), coalesce(col("m"), lit(0.0)).as("auth"))
      // the LAST auth has two consumers — the final hub update and the
      // output join — and the output join's other side CONTAINS the hub
      // update, so without materializing here Spark recomputes the whole
      // auth chain (every prior round's exchanges run twice; the plan
      // spec caught it). localCheckpoint shares one materialized copy and
      // preserves the hash(id) layout for both downstream SMJs.
      if (it == iters || it % 5 == 0) auth = auth.localCheckpoint()
      val hMass = byDst.join(auth, byDst("dst") === auth("id"))
        .groupBy("src").agg(sum("auth").as("m"))
      hub = nodes.join(hMass, nodes("id") === hMass("src"), "left")
        .select(col("id"), coalesce(col("m"), lit(0.0)).as("hub"))
      if (it % 5 == 0 && it != iters) hub = hub.localCheckpoint()
    }
    auth.join(hub, "id").select(col("id"), col("auth"), col("hub"))
  }

  /** Mirror-host detection: pairs of hosts serving many IDENTICAL
    * documents — the host-level cousin of document near-dup (a mirror or
    * CDN alias duplicates a whole site, and corpus-level dedup wants the
    * HOST pair, not 10^6 independent doc pairs).
    *
    * Reference analog: `conflate`'s duplicate-geometry grouping across
    * layers (`geo/layer/cons.py` test_conflate) lifted to (host, content)
    * identity.
    *
    * Shape — the engine's standard bucketed-candidate discipline (same as
    * MinHash bands / SimHash combo keys): the content key IS the bucket.
    *   1. distinct (host, ck): one exchange, map-side combine;
    *   2. LOSSY skew cap: content served by more than `maxHostsPerContent`
    *      hosts is dropped via left_anti (a k-host boilerplate page is
    *      C(k,2) pairs — the cap bounds the self-join's output exactly as
    *      minhashNearDups' band cap does, with the same
    *      [[graft.dedup.Dedup.underCap]]; AQE picks broadcast vs
    *      sort-merge from real stats);
    *   3. per-ck self-join (host_a < host_b) → groupBy pair count: the
    *      only quadratic step, bounded by the cap²·n_ck;
    *   4. per-host doc counts re-join (counts-sized) for the Jaccard.
    *
    * Returns (host_a, host_b, shared, n_a, n_b, jaccard) with
    * `shared >= minShared`, jaccard rounded for cross-engine fp safety.
    */
  def mirrorHosts(pages: DataFrame, hostCol: String, contentKeyCol: String,
      minShared: Long, maxHostsPerContent: Long): DataFrame = {
    val hc = pages.select(col(hostCol).as("h"), col(contentKeyCol).as("ck"))
      .distinct()
    val perHost = hc.groupBy("h").agg(count(lit(1)).as("n"))
    val ok = graft.dedup.Dedup.underCap(hc, "ck", maxHostsPerContent)
    ok.as("l").join(ok.as("r"),
        col("l.ck") === col("r.ck") && col("l.h") < col("r.h"))
      .groupBy(col("l.h").as("host_a"), col("r.h").as("host_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(perHost.select(col("h").as("host_a"), col("n").as("n_a")), "host_a")
      .join(perHost.select(col("h").as("host_b"), col("n").as("n_b")), "host_b")
      .select(col("host_a"), col("host_b"), col("shared"), col("n_a"), col("n_b"),
        round(col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")), 6).as("jaccard"))
  }

  /** Exact per-vertex triangle counts over (src, dst) edges — the
    * link-farm / community-density primitive (clustering coefficient's
    * numerator). Input may be directed, multi, self-looped; triangles are
    * counted over the SIMPLE UNDIRECTED support, each exactly once.
    *
    * The algorithm is the degree-ordered orientation (Chiba–Nishizeki):
    * orient every undirected edge from its lower-(deg, id) endpoint to
    * the higher one, enumerate wedges u→v, u→w (v before w in the same
    * order), and close them against the oriented edge v→w. Orientation is
    * THE skew weapon here: a 10^8-degree hub is larger than almost all of
    * its neighbors, so it becomes a sink — it closes wedges but never
    * fans them out; every vertex's wedge fan-out is bounded by its
    * OUT-degree ≤ O(√m), giving the classic O(m^1.5) total work instead
    * of the Σdeg² a naive neighbor-pair explode pays (which a single
    * celebrity host would turn into 10^16 wedges).
    *
    * Shuffle shape at web scale: the oriented edge table is built with
    * one degree aggregate (8-byte keys, map-side combine) + one join back
    * onto edges; the wedge self-join and the closing join are both
    * equi-joins on 8/16-byte keys; the per-vertex rollup map-side
    * combines. No broadcast grows with the graph; AQE skew-split absorbs
    * residual wedge-source skew. */
  def triangleCounts(rawEdges: DataFrame): DataFrame = {
    val und = simpleSupport(rawEdges)
    triangleCountsOnSupport(und, supportDegrees(und))
  }

  /** Canonical simple undirected support of a (src, dst) edge table:
    * self-loops dropped, direction/duplicates collapsed to (a<b). */
  def simpleSupport(rawEdges: DataFrame): DataFrame =
    rawEdges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Per-vertex degree over a [[simpleSupport]] table: (v, deg). */
  def supportDegrees(und: DataFrame): DataFrame =
    und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))

  /** [[triangleCounts]] taking a prebuilt support + degree table, so a
    * caller that also needs them (clustering coefficient) builds the two
    * dominant shuffles ONCE instead of having this operator redo them. */
  def triangleCountsOnSupport(und: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    // orient lower (deg, id) -> higher; carry the head's (deg, id) so the
    // wedge join can order its two heads without another lookup
    val oriented = graft.CacheBin.persist(withDeg.select(
      when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv")))
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") &&
          (col("x.dv") < col("y.dv") ||
            (col("x.dv") === col("y.dv") && col("x.v") < col("y.v"))))
      .select(col("x.u").as("w0"), col("x.v").as("w1"), col("y.v").as("w2"))
    val tris = wedges.join(oriented.select(col("u").as("w1"), col("v").as("w2")),
      Seq("w1", "w2"))
    tris.select(explode(array(col("w0"), col("w1"), col("w2"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("n_triangles"))
  }

  /** k-core decomposition: iteratively peel every vertex of degree < k
    * (over the simple undirected support) until the subgraph is stable;
    * returns each surviving vertex with its in-core degree. The classic
    * dense-community / link-farm extractor: spam rings survive high-k
    * cores that organic link neighborhoods don't.
    *
    * Each round is one degree aggregate (map-side combine on 8-byte ids)
    * + two semi-joins of the edge table against the keep set — no
    * broadcast that grows with the graph, lineage cut per round
    * (localCheckpoint), convergence by edge-count fixpoint (the count is
    * the action the checkpoint needs anyway). Rounds are bounded by the
    * peeling depth, which for web graphs is small (degeneracy ordering
    * collapses in tens of rounds at billions of edges); `maxRounds`
    * guards pathological chains and FAILS LOUDLY rather than returning a
    * non-core subgraph. */
  def kCore(rawEdges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    // convergence stays on EXACT per-round counts (not the accumulator
    // idiom of the components loop): here the count comparison IS the
    // final answer's correctness condition and has no exact backstop
    // probe behind it, so a retry-inflated reading could declare a
    // non-fixpoint subgraph converged. Two small jobs per round is the
    // price of the guarantee.
    var und = rawEdges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint()
    var nEdges = und.count()
    var done = nEdges == 0L
    var round = 0
    while (!done && round < maxRounds) {
      val keep = und.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("v")
      val nxt = und
        .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
        .localCheckpoint()
      val m = nxt.count()
      done = m == nEdges
      nEdges = m
      und = nxt
      round += 1
      if (nEdges == 0L) done = true
    }
    require(done, s"kCore did not converge within $maxRounds rounds")
    und.select(explode(array(col("a"), col("b"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("deg"))
  }

  /** Multi-source BFS depth over DIRECTED (src, dst) edges: the crawl
    * depth of every page reachable from the seed frontier (seeds at depth
    * 0), unreachable pages absent. The frontier discipline every crawler
    * scheduler runs ("how deep is this URL from the seed list").
    *
    * Pregel-shaped: each round expands only the CURRENT frontier (one
    * equi-join frontier ⨝ edges on src — cost ∝ frontier out-edges, not
    * the visited set), dedups candidates map-side, and anti-joins the
    * known-distance table so every vertex is settled exactly once. Rounds
    * = graph eccentricity from the seeds — single digits on web graphs
    * (Broder et al.); lineage cut per round, loud guard past `maxRounds`.
    * The settled table only ever APPENDS (union), so the per-round work
    * decays as the frontier burns out. */
  def bfsDepth(edges: DataFrame, seeds: DataFrame, maxRounds: Int = 30): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"))
    // settled depths accumulate as a buffer of checkpointed per-round
    // frames (re-materializing the whole union every round re-paid a job
    // for rows that never change); frontier emptiness rides the
    // checkpoint materialization as an accumulator count (retries can
    // only inflate it — a zero is exact), so no isEmpty probe per round
    def ckCount(df: DataFrame, tag: String): (DataFrame, Long) = {
      val acc = spark.sparkContext.longAccumulator(s"bfs_rows_$tag")
      val c = df.as[(Long, Long)].map { r => acc.add(1L); r }
        .toDF("v", "depth").localCheckpoint()
      (c, acc.value)
    }
    val distBuf = scala.collection.mutable.ArrayBuffer(
      seeds.select(col("v").cast("long").as("v"), lit(0L).as("depth"))
        .distinct().localCheckpoint())
    def dist = distBuf.reduceLeft(_ unionByName _)
    var frontier = distBuf.head
    var round = 0
    var exhausted = false
    while (!exhausted && round < maxRounds) {
      round += 1
      val (next, n) = ckCount(frontier.join(e, frontier("v") === e("src"))
        .select(e("dst").as("v"), lit(round.toLong).as("depth"))
        .distinct()
        .join(dist, Seq("v"), "left_anti"), round.toString)
      if (n == 0L) exhausted = true
      else {
        distBuf += next
        frontier = next
      }
    }
    // off-by-one mercy probe: a caller who set maxRounds to the true
    // eccentricity has a COMPLETE answer whose final frontier just hasn't
    // confirmed empty yet — one more expansion check settles it instead
    // of throwing on a correct result
    if (!exhausted)
      exhausted = frontier.join(e, frontier("v") === e("src"))
        .select(e("dst").as("v")).distinct()
        .join(dist, Seq("v"), "left_anti").isEmpty
    require(exhausted, s"bfsDepth frontier still live after $maxRounds rounds")
    dist
  }

  /** Strongly connected components over DIRECTED (src, dst) edges:
    * (v, scc_id) for every vertex in the edge list, scc_id = min vertex id
    * of the component. The web-graph spam-ring / link-exchange detector —
    * k-core finds DENSE subgraphs, SCC finds CLOSED ones (every member
    * both links to and is linked from the rest of its component).
    *
    * Coloring-family algorithm (Orzan 2004's FW-BW-coloring shape), all
    * label propagation — no per-vertex BFS:
    *
    *  1. TRIM: vertices with no in- or no out-edges in the active subgraph
    *     cannot sit on a cycle → settle as singletons, iterate. This alone
    *     resolves the acyclic bulk (tendrils) of a web graph.
    *  2. FW/BW: fw(v) = min vertex that can reach v, bw(v) = min vertex v
    *     can reach (min-label propagation WITH POINTER JUMPING — each
    *     iteration takes one edge hop and one label jump c(v) <- c(c(v)),
    *     fixpoint in O(log diameter) iterations, same discipline as
    *     [[UrlOps.resolveRedirects]]; bw runs the same kernel on the
    *     reversed edges). The two propagations are INDEPENDENT, so they
    *     run as concurrent jobs (guide §2.6 — the second propagation
    *     back-fills the first's stragglers instead of waiting).
    *  3. SETTLE: v settles with scc_id m iff fw(v) = bw(v) = m. Soundness:
    *     m reaches v and v reaches m, so v ∈ SCC(m). Completeness per
    *     SCC: ancestors and descendants are SCC-invariant sets, so fw and
    *     bw are constant across an SCC — either a whole SCC settles or
    *     none of it does, and the settled m is that SCC's minimum id. The
    *     SCC holding the remaining graph's global minimum always has
    *     fw = bw = that minimum, so every round settles at least one SCC.
    *
    * Outer rounds are bounded by the chain depth of the SCC DAG after
    * trimming — small on web graphs (one giant core + shallow cyclic
    * satellites, Broder et al. 2000). Every class settles at least its
    * pivot each round, so progress is guaranteed; `maxRounds`/`maxIters`
    * fail LOUDLY rather than returning partial labels.
    *
    * 100 TB shape: every step is an equi-join / aggregate on 8-byte keys
    * (no windows, no sorts); per-iteration state is one long per vertex;
    * lineage is cut per iteration with localCheckpoint. r06: settled SCCs
    * accumulate in a buffer unioned once at the end (no per-round
    * re-materialization of never-changing rows), trim candidates come
    * from one endpoint-degree aggregate instead of two distincts + join,
    * and every emptiness/convergence decision rides a checkpoint
    * materialization as an accumulator count (a retried task can only
    * inflate a count, never fake the zero the decisions read), so no
    * separate probe actions run inside the loops. */
  def scc(rawEdges: DataFrame, maxRounds: Int = 30, maxIters: Int = 64): DataFrame = {
    val spark = rawEdges.sparkSession
    import spark.implicits._
    // every checkpoint is Adjacency.ckFresh: the label table is joined 3×
    // per iteration, so its stats must reset each time
    import Adjacency.ckFresh
    // checkpoint + row count riding the SAME materialization (an
    // accumulator on the checkpoint job): retries only inflate the count,
    // zero is exact — so emptiness decisions cost no extra action
    val ctr = new java.util.concurrent.atomic.AtomicLong
    def ck2Count(df: DataFrame, tag: String): (DataFrame, Long) = {
      val acc = spark.sparkContext.longAccumulator(s"scc_rows_${tag}_${ctr.incrementAndGet()}")
      val c = ckFresh(df.as[(Long, Long)].map { r => acc.add(1L); r }
        .toDF(df.columns(0), df.columns(1)))
      (c, acc.value)
    }
    def ck1Count(df: DataFrame, tag: String): (DataFrame, Long) = {
      val acc = spark.sparkContext.longAccumulator(s"scc_rows_${tag}_${ctr.incrementAndGet()}")
      val c = ckFresh(df.as[Long].map { r => acc.add(1L); r }.toDF(df.columns(0)))
      (c, acc.value)
    }
    var (edges, nEdges) = ck2Count(rawEdges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct(), "edges")
    // vertex set from the RAW edges (a self-loop-only vertex is a valid
    // singleton SCC and must still be labeled)
    var (verts, nVerts) = ck1Count(rawEdges.select(col("src").cast("long").as("v"))
      .unionByName(rawEdges.select(col("dst").cast("long").as("v")))
      .distinct(), "verts")
    // settled SCCs accumulate as a buffer of already-checkpointed frames;
    // the single union at the end reads each exactly once (re-checkpointing
    // the union every round was one extra full-materialization job per
    // round for data that never changes again)
    val settled = scala.collection.mutable.ArrayBuffer
      .empty[DataFrame]
    var outer = 0
    while (outer < maxRounds && nVerts > 0L) {
      outer += 1
      // ---- (1) trim acyclic fringe to fixpoint ----
      // cyclic candidates via ONE degree-style aggregate over both edge
      // endpoints (has in- AND out-edges) instead of two distincts + join
      var trimming = true
      var trims = 0
      while (trimming && nVerts > 0L) {
        trims += 1
        require(trims <= maxIters, s"scc trim still peeling after $maxIters rounds")
        val cyclicCand = edges
          .select(explode(array(
            struct(col("src").as("v"), lit(1).as("o"), lit(0).as("i")),
            struct(col("dst").as("v"), lit(0).as("o"), lit(1).as("i")))).as("s"))
          .groupBy(col("s.v").as("v"))
          .agg(max(col("s.o")).as("ho"), max(col("s.i")).as("hi"))
          .where(col("ho") === 1 && col("hi") === 1)
          .select("v")
        val (trivial, nTrivial) = ck1Count(
          verts.join(cyclicCand, Seq("v"), "left_anti"), s"trim$outer$trims")
        if (nTrivial == 0L) trimming = false
        else {
          settled += trivial.select(col("v"), col("v").as("scc_id"))
          val (v2, nv) = ck1Count(verts.join(trivial, Seq("v"), "left_anti"),
            s"trimv$outer$trims")
          verts = v2; nVerts = nv
          val (e2, ne) = ck2Count(edges
            .join(trivial.select(col("v").as("src")), Seq("src"), "left_anti")
            .join(trivial.select(col("v").as("dst")), Seq("dst"), "left_anti"),
            s"trime$outer$trims")
          edges = e2; nEdges = ne
        }
      }
      if (nVerts > 0L) {
        // ---- (2) color: min ancestor via hop + pointer jump ----
        // convergence rides the checkpoint's own materialization job as an
        // accumulator side effect (no separate probe action per iteration;
        // task retries can only inflate a NONZERO count, never fake a zero).
        // The hop/jump attachments stay JOINS on purpose: the label table
        // is node-sized, so AQE broadcasts it at bench scale (zero
        // exchange) and splits it at corpus scale — a measured r06 attempt
        // to fold them into one union-of-messages aggregate forced real
        // shuffles where AQE had been broadcasting and ran 20% slower.
        def minPropagate(hopEdges: DataFrame, tag: String): DataFrame = {
          var lbl = ckFresh(verts.select(col("v"), col("v").as("c")))
          var fixed = false
          var iters = 0
          while (!fixed) {
            iters += 1
            require(iters <= maxIters, s"scc propagation still moving after $maxIters iterations")
            val hop = hopEdges
              .join(lbl.select(col("v").as("src"), col("c").as("cs")), Seq("src"))
              .groupBy(col("dst").as("v")).agg(min(col("cs")).as("hopc"))
            val jump = lbl
              .join(lbl.select(col("v").as("c"), col("c").as("jc")), Seq("c"))
              .select(col("v"), col("jc"))
            val changed = spark.sparkContext.longAccumulator(s"scc_${tag}_${outer}_$iters")
            val next = ckFresh(lbl.withColumnRenamed("c", "c0")
              .join(hop, Seq("v"), "left")
              .join(jump, Seq("v"), "left")
              .select(col("v"), col("c0"), least(col("c0"),
                coalesce(col("hopc"), col("c0")),
                coalesce(col("jc"), col("c0"))).as("c"))
              .as[(Long, Long, Long)]
              .map { r => if (r._2 != r._3) changed.add(1L); (r._1, r._3) }
              .toDF("v", "c"))
            fixed = changed.value == 0L
            lbl = next
          }
          lbl
        }
        // fw and bw share no state: run them as concurrent driver-thread
        // jobs so the scheduler interleaves their (tiny, barrier-heavy)
        // iteration stages instead of serializing two full propagations
        val exec = java.util.concurrent.Executors.newFixedThreadPool(2)
        val (fw, bw) = try {
          val ec = scala.concurrent.ExecutionContext.fromExecutor(exec)
          val fFw = scala.concurrent.Future(minPropagate(edges, "fw"))(ec)
          val fBw = scala.concurrent.Future(minPropagate(
            edges.select(col("dst").as("src"), col("src").as("dst")), "bw"))(ec)
          (scala.concurrent.Await.result(fFw, scala.concurrent.duration.Duration.Inf),
            scala.concurrent.Await.result(fBw, scala.concurrent.duration.Duration.Inf))
        } finally exec.shutdown()
        // ---- (3) settle where min-ancestor == min-descendant ----
        val comp = ckFresh(fw.join(bw.withColumnRenamed("c", "t"), Seq("v"))
          .filter(col("t") === col("c"))
          .select(col("v"), col("c").as("scc_id")))
        settled += comp
        val (v2, nv) = ck1Count(verts.join(comp, Seq("v"), "left_anti"),
          s"settlev$outer")
        verts = v2; nVerts = nv
        val (e2, ne) = ck2Count(edges
          .join(comp.select(col("v").as("src")), Seq("src"), "left_anti")
          .join(comp.select(col("v").as("dst")), Seq("dst"), "left_anti"),
          s"settlee$outer")
        edges = e2; nEdges = ne
      }
    }
    require(nVerts == 0L, s"scc did not settle all vertices within $maxRounds outer rounds")
    settled.foldLeft(
      spark.range(0).select(col("id").as("v"), col("id").as("scc_id")))(
      (acc, df) => acc.unionByName(df))
  }

  /** Co-citation projection (Small 1973, the structural mirror-detection
    * complement to [[mirrorHosts]]'s content keys): pairs of link TARGETS
    * endorsed by the same sources, weighted by how many distinct sources
    * cite both. The classic "related pages" / host-similarity signal.
    *
    * Skew discipline — the mirrorHosts/band-cap rule applied to link
    * fanout: sources citing more than `maxFanout` targets are directory
    * pages/link farms whose C(fan,2) pair explosion would dominate the
    * join, so they are dropped by a left_anti against the over-cap source
    * set ([[graft.dedup.Dedup.underCap]]: an aggregate-derived table, never
    * driver state; lossy and DOCUMENTED — the oracle applies the same
    * rule). Under the cap the per-source pair fanout is ≤ C(maxFanout, 2),
    * so the self-join output is linear in sources; the pair rollup
    * map-side combines.
    *
    * `links`: (src, dst); duplicates collapse first so weights count
    * distinct sources. Returns (a, b, w) with a < b and w >= minWeight. */
  def coCitation(links: DataFrame, maxFanout: Int, minWeight: Long): DataFrame = {
    val l = links
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct()
    val ok = graft.CacheBin.persist(graft.dedup.Dedup.underCap(l, "src", maxFanout))
    ok.as("x").join(ok.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .groupBy(col("x.dst").as("a"), col("y.dst").as("b"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minWeight)
  }

  /** Common-neighbor link-prediction scoring (the integer-exact core of
    * Liben-Nowell & Kleinberg 2003): for each CANDIDATE pair, the number
    * of shared neighbors in the undirected simple graph plus both
    * degrees — the features a ranker (or a Jaccard/Adamic-Adar variant)
    * consumes. Candidate-driven on purpose: scoring a given pair set is
    * two equi-joins against the adjacency table (candidates × deg(a)
    * intermediate, bounded by the candidate batch) — enumerating ALL
    * wedges would be deg² at every hub, which no trick removes for open
    * wedges. All outputs are integers, so results are bit-exact at any
    * parallelism.
    *
    * `candidates`: (a, b); pairs are canonicalized a<b and deduped.
    * Returns (a, b, common, deg_a, deg_b) — Jaccard is
    * common/(deg_a+deg_b-common) for the caller. */
  def linkPredict(rawEdges: DataFrame, candidates: DataFrame): DataFrame = {
    val und = graft.CacheBin.persist(simpleSupport(rawEdges))
    // adjacency both ways: (v, nbr)
    val adj = und.select(col("a").as("v"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("v"), col("a").as("nbr")))
    val deg = supportDegrees(und)
    val cand = candidates.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).cast("long").as("a"),
        greatest(col("a"), col("b")).cast("long").as("b"))
      .distinct()
    val common = cand
      .join(adj.select(col("v").as("a"), col("nbr")), Seq("a"))
      .join(adj.select(col("v").as("b"), col("nbr")), Seq("b", "nbr"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    cand.join(common, Seq("a", "b"), "left")
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), Seq("a"), "left")
      .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), Seq("b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("common"), lit(0L)).as("common"),
        coalesce(col("deg_a"), lit(0L)).as("deg_a"),
        coalesce(col("deg_b"), lit(0L)).as("deg_b"))
  }

  /** GraphSAGE-style neighborhood feature aggregation (Hamilton et al.
    * 2017), 2 hops, path-sum semantics: hop-1 aggregates each vertex's
    * out-neighbor features (sum + count); hop-2 aggregates the
    * NEIGHBORS' hop-1 aggregates — i.e. sums over length-2 paths —
    * which is the decomposition that never materializes 2-hop pairs.
    * Each hop is ONE equi-join of the edge table on its 8-byte key plus
    * one map-side-combined aggregate; at 10^12 edges the edge table can
    * be pre-partitioned on src and reused across hops, and a
    * mega-in-degree hub is a plain AQE-splittable aggregate group.
    * Integer features → exact sums at any parallelism.
    *
    * `edges`: (src, dst) directed; `feats`: (v, f) integer feature.
    * Returns (v, h1_sum, h1_cnt, h2_sum, h2_cnt), zeros where a hop is
    * empty, one row per feature-table vertex. */
  def neighborhoodAgg(edges: DataFrame, feats: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val f = feats.select(col("v").cast("long").as("v"), col("f").cast("long").as("f"))
    val h1 = e.join(f.withColumnRenamed("v", "dst"), Seq("dst"))
      .groupBy(col("src").as("v"))
      .agg(sum("f").as("h1_sum"), count(lit(1)).as("h1_cnt"))
    val h2 = e.join(h1.withColumnRenamed("v", "dst"), Seq("dst"))
      .groupBy(col("src").as("v"))
      .agg(sum("h1_sum").as("h2_sum"), sum("h1_cnt").as("h2_cnt"))
    f.select("v").join(h1, Seq("v"), "left").join(h2, Seq("v"), "left")
      .select(col("v"),
        coalesce(col("h1_sum"), lit(0L)).as("h1_sum"),
        coalesce(col("h1_cnt"), lit(0L)).as("h1_cnt"),
        coalesce(col("h2_sum"), lit(0L)).as("h2_sum"),
        coalesce(col("h2_cnt"), lit(0L)).as("h2_cnt"))
  }

  /** Deterministic random walks (the DeepWalk/node2vec corpus-generation
    * primitive, Perozzi et al. 2014): one `walkLen`-step walk per start
    * vertex, where the hop out of vertex v at step t of start s's walk
    * picks neighbor index md5-48(s:v:t) % outdeg(v) among v's
    * out-neighbors ordered by dst id. "Random" is a pure column hash of
    * (start, position, step) — the walk set is a function of the graph
    * alone, so reruns, cluster sizes, and engines agree bit-exactly, and
    * DuckDB replays it with the same md5-48 idiom ([[graft.text.TextFns.hash48]]).
    *
    * 100 TB shape: the neighbor table (src → rn, outdeg) costs ONE
    * shuffle (window partitioned by src) and is persisted; each step is
    * then ONE equi-join of the frontier on src — walkLen joins total, no
    * driver state, frontier rows only (walks at dead-end vertices simply
    * stop). At 10^12 edges this is the standard embedding-input job:
    * per-step traffic is |frontier| 24-byte rows against the
    * pre-partitioned neighbor table.
    *
    * `rawEdges`: (src, dst) directed, self-loops dropped, multi-edges
    * collapsed. `starts`: (v). Returns (start, step, v) with step 0 = the
    * start vertex itself. */
  def randomWalks(rawEdges: DataFrame, starts: DataFrame, walkLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = rawEdges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
    val bySrc = Window.partitionBy("src")
    val nbrs = graft.CacheBin.persist(edges.select(
      col("src"), col("dst"),
      row_number().over(bySrc.orderBy("dst")).as("rn"),
      count(lit(1)).over(bySrc).as("outdeg")))
    val step0 = starts.select(
      col("v").cast("long").as("start"), lit(0).as("step"), col("v").cast("long").as("v"))
    // each frontier is persisted so step t+1 (and the final union) read a
    // materialized table instead of replaying the whole join chain — the
    // same lineage-cut discipline as pageRank; without it the union's plan
    // is O(L²) joins and the recomputation OOMs long before 10^12 edges
    var walks = step0
    var frontier = step0
    for (t <- 1 to walkLen) {
      val pick = graft.text.TextFns.hash48(concat_ws(":",
        col("start").cast("string"), col("v").cast("string"), lit(t.toString)))
      frontier = graft.CacheBin.persist(
        frontier.join(nbrs, frontier("v") === nbrs("src"))
          .where(col("rn") === pick % col("outdeg") + 1)
          .select(col("start"), lit(t).as("step"), col("dst").as("v")))
      walks = walks.unionByName(frontier)
    }
    walks
  }
}
