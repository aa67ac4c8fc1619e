package graft.ops

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftJoinHints.noBroadcast
import graft.geom.{Geom, Pt}
import graft.layers.Building

/** Shared-segment adjacency + connected components + polygon union —
  * the reference's get_adjacents_and_geometries / merge_groups /
  * merge_geometries pipeline (catatom2osm/geo/layer/polygon.py:134-159,
  * 526-574; geo/tools.py:26-41), re-expressed as shuffles:
  *
  *  1. every ring edge is emitted under a canonical (undirected) segment key
  *     — the "shared-vertex shuffle" of SURVEY §2.5;
  *  2. segment keys with ≥2 owners become adjacency edges;
  *  3. components form by a per-partition union-find followed, only where
  *     that leaves components split across partitions, by alternating-star
  *     rounds of plain shuffles ([[componentStars]]) — scales to any count;
  *  4. union per component = interior-edge cancellation (adjacent CCW rings
  *     traverse a shared wall in opposite directions → the pair cancels)
  *     followed by per-component boundary chaining.
  */
object Adjacency {

  /** Directed edges of every building ring: (bid, ax, ay, bx, by). */
  def directedEdges(bs: Dataset[Building]): DataFrame = {
    val spark = bs.sparkSession
    import spark.implicits._
    bs.flatMap { b =>
      val n = b.ring.length
      (0 until n).map { i =>
        val a = b.ring(i); val c = b.ring((i + 1) % n)
        (b.bid, a.x, a.y, c.x, c.y)
      }
    }.toDF("bid", "ax", "ay", "bx", "by")
  }

  /** Canonical segment key columns (order-independent endpoint sort).
    * The key is xxhash64 of the canonical endpoint order — an 8-byte
    * shuffle key instead of a ~40-byte string; a 64-bit collision within
    * one municipality's edge set is ~impossible and the oracle-gated
    * queries guard the output. */
  private def withSegKey(edges: DataFrame): DataFrame =
    edges.withColumn("seg",
      when(struct(col("ax"), col("ay")) < struct(col("bx"), col("by")),
        xxhash64(col("ax"), col("ay"), col("bx"), col("by")))
        .otherwise(xxhash64(col("bx"), col("by"), col("ax"), col("ay"))))

  /** Adjacency pairs: buildings sharing a full segment
    * (is_shared_segment, polygon.py:86-97). */
  def adjacentPairs(bs: Dataset[Building]): DataFrame = {
    val e = withSegKey(directedEdges(bs)).select("seg", "bid")
    e.as("l").join(e.as("r"),
        col("l.seg") === col("r.seg") && col("l.bid") < col("r.bid"))
      .select(col("l.bid").as("a"), col("r.bid").as("b"))
      .distinct()
  }

  /** Connected components: (bid, comp) where comp = min bid of the
    * component. See [[connectedComponentsWithRounds]]. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame, maxIter: Int = 30): DataFrame =
    connectedComponentsWithRounds(vertices, edges, maxIter)._1

  /** Eager localCheckpoint + STATS reset, for this file's star rounds and
    * [[WebGraph.scc]]'s label loops. `Dataset.localCheckpoint` truncates
    * lineage but PRESERVES the child plan's sizeInBytes estimate, and a
    * loop's join estimates multiply the label plan's stats ~4× per round —
    * a double-exponential BigInteger that overflows Catalyst's stats
    * visitor near round 14 (hit at 2M-point DBSCAN scale, where the giant
    * component needs that many pointer-jump rounds). Rebuilding the frame
    * from the checkpointed RDD resets to the conservative default estimate
    * each round (runtime join strategy stays AQE-decided). */
  private[ops] def ckFresh(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftRddBridge.freshStatsCopy(df.localCheckpoint())

  /** Connected components as a left join of `vertices` (bid) on the
    * converged star edges of [[componentStars]]: a vertex with a star edge
    * takes its root, every other vertex (isolated, or a component root) is
    * its own label. Labels are min-ids — deterministic at any parallelism.
    * Returns (labels, star rounds): a graph the per-partition union-find
    * pass already solves takes zero rounds. */
  def connectedComponentsWithRounds(
      vertices: DataFrame, edges: DataFrame, maxIter: Int = 30): (DataFrame, Int) = {
    val (stars, rounds) = componentStars(edges, maxIter)
    val labels = vertices.select(col("bid"))
      .join(stars, Seq("bid"), "left")
      .select(col("bid"), coalesce(col("root"), col("bid")).as("comp"))
    (labels, rounds)
  }

  /** The components kernel. Returns the converged star edges
    * (bid, root) — one row per NON-ROOT vertex of the graph (a, b), root =
    * the min id of its component — and the number of alternating-star
    * rounds it took. Vertices in no edge, and component roots, have no
    * row: callers that only need "who is not the representative" (dedup
    * survivor selection, root rewrites) read this directly instead of
    * labelling every endpoint.
    *
    *  1. LOCAL-FIRST CONTRACTION. After the canonical (u > v) distinct,
    *     a union-find inside each partition of that hash-partitioned
    *     output replaces every local component by a star on its local
    *     minimum — exact, because a local component is a subset of a
    *     global one, so connectivity is unchanged. A graph that fits one
    *     partition (every small near-dup graph, once AQE coalesces the
    *     distinct's output) is solved by this pass alone.
    *  2. ALTERNATING STAR (Kiveris et al., "Connected Components in
    *     MapReduce and Beyond", SoCC'14) on whatever the local pass left:
    *     each round rewrites the EDGE SET — large-star re-attaches every
    *     node's larger neighbors to the minimum of its closed
    *     neighborhood, small-star re-attaches its smaller neighbors (and
    *     itself) likewise. Both steps preserve connectivity exactly and
    *     converge in O(log² n) rounds REGARDLESS of diameter (label
    *     propagation moves one edge hop per round, so a high-diameter
    *     ε-graph snake would need Θ(diameter) rounds and a fixed cap would
    *     silently return unconverged labels).
    *  3. STAR-FOREST STOP. The alternating-star fixpoint is exactly a star
    *     forest: every u has one v, and no v is also a u. That is tested
    *     on the CURRENT edge set — one aggregate plus isEmpty, on the
    *     local pass's output and after each round — so the loop stops in
    *     the round that reaches the fixpoint. Two shortcuts keep it cheap
    *     and exact: a one-partition local pass needs no test (it saw the
    *     whole graph), and a round whose checkpoint job already found a
    *     violation inside one partition ([[LocalStars.gate]]) skips it.
    *
    * The loud `require` enforces convergence within `maxIter` rounds
    * instead of returning partial stars. Lineage is cut and Catalyst stats
    * reset per round (ckFresh). */
  def componentStars(edges: DataFrame, maxIter: Int = 30): (DataFrame, Int) = {
    val spark = edges.sparkSession
    import spark.implicits._
    // run AFTER the distinct: on the caller's partitioning (dedup pairs
    // arrive partitioned by one endpoint) the local pass leaves most
    // components split across partitions and every star round still runs
    val canonical = edges
      .select(greatest(col("a").cast("long"), col("b").cast("long")).as("u"),
        least(col("a").cast("long"), col("b").cast("long")).as("v"))
      .where(col("u") =!= col("v")).distinct()
    var e = ckFresh(canonical.as[(Long, Long)]
      .mapPartitions(part => LocalStars.stars(part))
      .toDF("u", "v"))
    // in one partition the union-find saw every edge: its stars are final
    val whole = e.queryExecution.toRdd.getNumPartitions <= 1
    var rounds = 0
    var stars = whole || isStarForest(e)
    while (!stars && rounds < maxIter) {
      rounds += 1
      val violations = spark.sparkContext.longAccumulator(s"cc_violations_$rounds")
      e = ckFresh(starRound(e).as[(Long, Long)]
        .mapPartitions(part => LocalStars.gate(part, violations))
        .toDF("u", "v"))
      // a partition-local violation rides the checkpoint job and settles
      // "not yet" for free; only a clean round pays the exact test
      stars = violations.value == 0L && isStarForest(e)
    }
    require(stars, s"connectedComponents still churning after $maxIter alternating-star rounds")
    // partitions may emit the same (node, localMin); a round's output is
    // already distinct
    if (rounds == 0 && !whole) e = e.distinct()
    (e.select(col("u").as("bid"), col("v").as("root")), rounds)
  }

  /** True iff the canonical (u > v) edge set `e` (duplicate rows allowed)
    * is a star forest: every u has exactly one v and no v is also a u. */
  private[ops] def isStarForest(e: DataFrame): Boolean =
    e.select(col("u").as("n"), col("v").as("p"), lit(false).as("isV"))
      .union(e.select(col("v").as("n"), lit(null).cast("long").as("p"), lit(true).as("isV")))
      .groupBy("n").agg(min("p").as("lo"), max("p").as("hi"), max("isV").as("isV"))
      .where(col("lo") =!= col("hi") || (col("lo").isNotNull && col("isV")))
      .isEmpty

  /** One alternating-star round over the canonical edge set (u > v),
    * ending in the canonical distinct.
    *
    * Each star phase computes its neighborhood minimum as a per-key HASH
    * AGGREGATE (map-side combined — the exchange moves node-sized
    * partials, not edges) re-attached by an equi-join that AQE broadcasts
    * at node scale and skew-splits at corpus scale; the only edge-sized
    * exchange per round is the canonical distinct. A mid-r06 formulation
    * computed the same minimum as an unordered WINDOW sharing the phase's
    * exchange — and OOMed the dbscan sweep's 2M-point giant component:
    * WindowExec BUFFERS each partition, and once stars form the component
    * root's partition is component-sized. Aggregates and joins are the two
    * operators Spark can skew-handle; the big side is never sorted or
    * buffered here (AltStarPlanSpec pins the plan).
    *
    * The edge side of each re-attach join is marked never-broadcast. At
    * node scale both sides of a join are small, and AQE would otherwise
    * broadcast whichever of its two leaf stages finishes first: when the
    * edge side won, the round planned one more stage, so the kernel's job
    * count followed stage finish order (ComponentsJobBudgetSpec).
    *
    *   large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
    *   small-star(u): over N⁻(u) = smaller neighbors (edges oriented
    *     hi→lo): m = min(N⁻(u)); emit (v, m) for v ∈ N⁻(u) ∪ {u}, v ≠ m */
  private[ops] def starRound(e: DataFrame): DataFrame = {
    val sym = e.select(col("u").as("a"), col("v").as("b"))
      .union(e.select(col("v").as("a"), col("u").as("b")))
    // large-star: m = min(closed neighborhood of a); larger neighbors
    // re-attach to m. Duplicate (u, v) rows (two a's sharing both m and
    // a larger neighbor) are harmless — the canonical distinct collapses
    // them.
    val e1 = noBroadcast(sym)
      .join(sym.groupBy("a").agg(min(col("b")).as("nb")), Seq("a"))
      .withColumn("m", least(col("a"), col("nb")))
      .where(col("b") > col("a"))
      .select(col("b").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
    // small-star over the hi→lo orientation (every neighbor here < u, so
    // m = min(N⁻(u)); the smaller neighbors and u itself re-attach). e1 is
    // read twice (join probe + aggregate input); the large-star phase runs
    // once per round only because AQE reuses its exchanges — with
    // spark.sql.exchange.reuse disabled it would run twice (slower, never
    // wrong; AltStarPlanSpec's three-shuffle-stage count guards this).
    noBroadcast(e1).join(e1.groupBy("u").agg(min(col("v")).as("m")), Seq("u"))
      .select(explode(array(
        struct(col("v").as("n"), col("m").as("m")),
        struct(col("u").as("n"), col("m").as("m")))).as("s"))
      .select(col("s.n").as("n"), col("s.m").as("m"))
      .where(col("n") =!= col("m"))
      .select(greatest(col("n"), col("m")).as("u"), least(col("n"), col("m")).as("v"))
      .distinct()
  }

  /** Incremental component maintenance for edge DELTAS — the crawl-ingest
    * pattern where yesterday's corpus is already labeled and today's batch
    * adds edges (and possibly new vertices). The labeled corpus is NEVER
    * re-solved: each delta edge contracts to its endpoints' current
    * component roots (two equi-joins against `labels`), intra-component
    * edges drop out, and the components kernel runs on the CONTRACTED
    * graph only — edges = cross-component delta edges — so the iterative
    * work is bounded by the DELTA, not the corpus. Its star edges ARE the
    * root-rewrite map (old root → new root, delta-bounded, so AQE
    * broadcasts it); relabeling is one equi-join on comp against it.
    * Endpoints unseen in `labels` enter as their own singleton components
    * first, so deltas may introduce new vertices.
    *
    * Because full labels are min-vertex ids and the contracted labels are
    * min-of-mins, the result is BIT-IDENTICAL to a full recompute over
    * E_base ∪ E_delta — the invariant the spec pins against union-find.
    *
    * `labels`: (bid, comp) from a prior [[connectedComponents]] run;
    * `newEdges`: (a, b). Returns (bid, comp) over all old + new vertices. */
  def incrementalComponents(
      labels: DataFrame, newEdges: DataFrame, maxIter: Int = 30): DataFrame = {
    val norm = newEdges.select(
      col("a").cast("long").as("a"), col("b").cast("long").as("b"))
    // new vertices (any delta endpoint not yet labeled) become singletons;
    // a self-loop-only new endpoint is a valid singleton and stays
    val endpoints = norm
      .select(explode(array(col("a"), col("b"))).as("bid")).distinct()
    val fresh = endpoints.join(labels, Seq("bid"), "left_anti")
      .select(col("bid"), col("bid").as("comp"))
    // read 3× (two contraction joins + the final relabel) — persist once
    val la = graft.CacheBin.persist(labels
      .select(col("bid").cast("long").as("bid"), col("comp").cast("long").as("comp"))
      .unionByName(fresh))
    val contracted = norm
      .join(la.select(col("bid").as("a"), col("comp").as("ca")), Seq("a"))
      .join(la.select(col("bid").as("b"), col("comp").as("cb")), Seq("b"))
      .select(col("ca").as("a"), col("cb").as("b"))
    val rewrite = componentStars(contracted, maxIter)._1
      .select(col("bid").as("comp"), col("root").as("newComp"))
    la.join(rewrite, Seq("comp"), "left")
      .select(col("bid"), coalesce(col("newComp"), col("comp")).as("comp"))
  }

  def components(bs: Dataset[Building]): DataFrame = {
    import bs.sparkSession.implicits._
    connectedComponents(
      bs.map(b => b.bid).toDF("bid"),
      adjacentPairs(bs))
  }

  /** Chain a set of boundary directed edges into closed ring(s). */
  def assembleRings(edges: Seq[(Pt, Pt)]): Seq[Array[Pt]] = {
    val next = mutable.Map[Pt, Pt]()
    edges.foreach { case (a, b) => next(a) = b }
    val visited = mutable.Set[Pt]()
    val rings = mutable.ArrayBuffer[Array[Pt]]()
    // deterministic chain starts (min vertex first) so ring vertex order is
    // reproducible at any parallelism — SURVEY §7.4 order-sensitivity rule
    for (start <- next.keys.toSeq.sortBy(p => (p.x, p.y)) if !visited(start)) {
      val ring = mutable.ArrayBuffer[Pt]()
      var cur = start
      var guard = 0
      while (!visited(cur) && guard <= edges.size) {
        visited += cur
        ring += cur
        cur = next(cur)
        guard += 1
      }
      if (ring.size >= 3) rings += ring.toArray
    }
    rings.toSeq
  }

  /** Union geometries per component: interior-edge cancellation + chaining
    * + collinear-vertex simplification. Returns
    * (comp, n_buildings, union_area, n_vertices). */
  def unionByComponent(bs: Dataset[Building]): DataFrame = {
    val spark = bs.sparkSession
    import spark.implicits._
    val comps = components(bs)
    val edges = directedEdges(bs).join(comps, "bid")
    // interior walls: the same undirected segment owned by 2 buildings of
    // one component -> drop both directions; boundary edges survive alone.
    // groupBy + filter(cnt=1), not count-over-window: same shuffle key but
    // map-side partial aggregation and no per-partition sort — first() is
    // well-defined because only single-row groups survive the filter
    val boundary = withSegKey(edges)
      .groupBy(col("comp"), col("seg"))
      .agg(count(lit(1)).as("cnt"),
        first(col("ax")).as("ax"), first(col("ay")).as("ay"),
        first(col("bx")).as("bx"), first(col("by")).as("by"))
      .filter(col("cnt") === 1)
      .select(col("comp"), col("ax"), col("ay"), col("bx"), col("by"))
    val nPer = comps.groupBy("comp").agg(count(lit(1)).as("n_buildings"))
    boundary
      .as[(Long, Double, Double, Double, Double)]
      .groupByKey(_._1)
      .mapGroups { (comp, it) =>
        val es = it.map(t => (Pt(t._2, t._3), Pt(t._4, t._5))).toSeq
        val rings = assembleRings(es)
          .map(r => graft.clean.PolygonClean.simplifyRing(r))
        val area = rings.map(Geom.ringArea).sum
        val nVerts = rings.map(_.length).sum
        (comp, area, nVerts.toLong)
      }
      .toDF("comp", "union_area", "n_vertices")
      .join(nPer, "comp")
      .select("comp", "n_buildings", "union_area", "n_vertices")
  }

  /** Greedy parts-count packing per zone (merge_by_parts_count semantics,
    * parcel.py:214-264): zones are independent (parallel); within a zone the
    * greedy walk is sequential in deterministic parcel_id order — exactly
    * the order-sensitivity contract of SURVEY §7.4. */
  def greedyPack(parcels: DataFrame, cap: Long = 20L): DataFrame = {
    val spark = parcels.sparkSession
    import spark.implicits._
    parcels.select(col("parcel_id").cast("long"), col("zone").cast("long"), col("parts").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroups { (zone, it) =>
        val sorted = it.toSeq.sortBy(_._1)
        var tile = 0L
        var acc = 0L
        sorted.map { case (pid, _, parts) =>
          if (acc + parts > cap && acc > 0) { tile += 1; acc = 0L }
          acc += parts
          (pid, zone, tile)
        }
      }
      .toDF("parcel_id", "zone", "tile")
  }
}

/** Partition-local passes of the components kernel. Node ids are interned
  * into dense indexes by an open-addressing table of primitive arrays, so
  * a partition of AQE's full advisory size costs ~20 bytes per distinct
  * node, never a boxed map entry. */
private[ops] object LocalStars {

  /** long id → dense index, in first-seen order (`ids(i)` is node i). */
  final class Interner {
    private var slots = new Array[Int](1 << 10) // dense index + 1, 0 = empty
    var ids = new Array[Long](1 << 9)
    var size = 0

    private def slotOf(x: Long, table: Array[Int]): Int = {
      val mask = table.length - 1
      val z = x * 0x9E3779B97F4A7C15L
      var s = (z ^ (z >>> 32)).toInt & mask
      while (table(s) != 0 && ids(table(s) - 1) != x) s = (s + 1) & mask
      s
    }

    /** Index of `x`, interning it (as index `size - 1`) if new. */
    def index(x: Long): Int = {
      val s = slotOf(x, slots)
      if (slots(s) != 0) slots(s) - 1
      else {
        if (size == ids.length) ids = java.util.Arrays.copyOf(ids, size * 2)
        ids(size) = x; size += 1
        slots(s) = size
        if (size * 2 > slots.length) { // keep the load factor ≤ 1/2
          val grown = new Array[Int](slots.length * 2)
          var i = 0
          while (i < size) { grown(slotOf(ids(i), grown)) = i + 1; i += 1 }
          slots = grown
        }
        size - 1
      }
    }
  }

  /** Union-find over one partition's edges: consumes `edges` and yields
    * (node, localMin) for every node that is not its local component's
    * minimum. A union points the larger root at the smaller, so a root is
    * always the minimum of its local component. */
  def stars(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val nodes = new Interner
    var parent = new Array[Int](1 << 9)
    def find(i: Int): Int = { // path halving
      var r = i
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def node(x: Long): Int = {
      val n = nodes.size
      val i = nodes.index(x)
      if (nodes.size > n) {
        if (i == parent.length) parent = java.util.Arrays.copyOf(parent, i * 2)
        parent(i) = i
      }
      find(i)
    }
    edges.foreach { case (u, v) =>
      val a = node(u); val b = node(v)
      if (a != b) { if (nodes.ids(a) < nodes.ids(b)) parent(b) = a else parent(a) = b }
    }
    Iterator.range(0, nodes.size).flatMap { i =>
      val r = find(i)
      if (r == i) None else Some((nodes.ids(i), nodes.ids(r)))
    }
  }

  /** Passes one partition of a canonical (u > v) edge set through
    * unchanged and adds 1 to `violations` if the partition ALONE shows the
    * set is not a star forest: a u with two different v's, or a node that
    * is both a u and a v. Such a violation is global too, so a non-zero
    * count (task retries only inflate it) is exact proof the loop must go
    * on; tracking stops at the first one, so an unconverged round pays
    * little. Zero proves nothing — violations can span partitions. */
  def gate(edges: Iterator[(Long, Long)],
           violations: org.apache.spark.util.LongAccumulator): Iterator[(Long, Long)] = {
    val nodes = new Interner
    var parentOf = new Array[Long](1 << 9) // for a u: its v
    var isU = new Array[Boolean](1 << 9)   // false: node seen only as a v
    var found = false
    def seen(x: Long): (Int, Boolean) = {
      val n = nodes.size
      val i = nodes.index(x)
      if (i == isU.length) {
        parentOf = java.util.Arrays.copyOf(parentOf, i * 2)
        isU = java.util.Arrays.copyOf(isU, i * 2)
      }
      (i, nodes.size > n)
    }
    edges.map { case e @ (u, v) =>
      if (!found) {
        val (iu, newU) = seen(u)
        if (newU) { isU(iu) = true; parentOf(iu) = v }
        else found = !isU(iu) || parentOf(iu) != v
        val (iv, newV) = seen(v)
        if (!found && !newV) found = isU(iv)
        if (found) violations.add(1L)
      }
      e
    }
  }
}
