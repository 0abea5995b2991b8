package graft.ops

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
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
  *  3. components form by iterative min-label propagation (join + groupBy
  *     per round; rounds = component diameter, tiny for wall-sharing
  *     buildings, and each round is a plain shuffle — scales to any count);
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

  /** Connected components by min-label propagation. Returns (bid, comp)
    * where comp = min bid of the component. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame, maxIter: Int = 30): DataFrame =
    connectedComponentsWithRounds(vertices, edges, maxIter)._1

  /** Eager localCheckpoint + STATS reset. `Dataset.localCheckpoint`
    * truncates lineage but PRESERVES the child plan's sizeInBytes
    * estimate, and the propagation loop's join estimates multiply the
    * label plan's stats ~4× per round — a double-exponential BigInteger
    * that overflows Catalyst's stats visitor near round 14 (hit at
    * 2M-point DBSCAN scale, where the giant component needs that many
    * pointer-jump rounds). Rebuilding the frame from the checkpointed RDD
    * resets to the conservative default estimate each round (runtime join
    * strategy stays AQE-decided, so no planning quality is lost). */
  private def ckFresh(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftRddBridge.freshStatsCopy(df.localCheckpoint())

  /** Connected components via the ALTERNATING-STAR algorithm (the
    * two-phase scheme of Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14): each round rewrites the EDGE SET —
    * large-star re-attaches every node's larger neighbors to the minimum
    * of its closed neighborhood, small-star re-attaches its smaller
    * neighbors (and itself) likewise — until the set stops changing, at
    * which point the edges form stars rooted at each component's minimum
    * id.
    *
    * Why not min-label propagation: a label (even with pointer-jump
    * shortcuts) moves one EDGE HOP per round, so a high-diameter graph —
    * an ε-proximity percolation snake at DBSCAN bench scale, a long chain
    * of wall-sharing buildings — needs Θ(diameter) rounds, and a fixed
    * round cap then SILENTLY returns unconverged labels (observed: the
    * 100k-point ε-graph still merging clusters past round 40). The star
    * operations restructure the graph itself, which converges in
    * O(log² n) rounds REGARDLESS of diameter (single digits in practice:
    * 7 rounds on that same ε-graph), and the loud `require` below can
    * therefore always be enforced.
    *
    *   large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
    *   small-star(u): over N⁻(u) = smaller neighbors (edges oriented
    *     hi→lo): m = min(N⁻(u)); emit (v, m) for v ∈ N⁻(u) ∪ {u}, v ≠ m
    *
    * Both steps preserve connectivity exactly (every emitted edge joins
    * two already-connected nodes; every dropped edge is re-implied via m),
    * and labels are min-ids — deterministic at any parallelism. Each star
    * phase is a map-side-combined per-key MIN aggregate (its exchange
    * carries node-sized partials) plus a re-attach equi-join (AQE
    * broadcast at node scale, skew-splittable at corpus scale); the only
    * edge-sized exchange per round is the canonical distinct. The
    * neighborhood min is deliberately NOT a window sharing the phase
    * exchange: WindowExec buffers whole partitions, and a star root's
    * partition is component-sized — the formulation OOMed at 2M points
    * (skew handling exists for joins and aggregates, not windows).
    * |E| contracts toward one edge per non-root vertex so late rounds are
    * cheap; lineage is cut and Catalyst stats reset per round (ckFresh).
    * Convergence = consecutive edge sets equal. The per-round edge count
    * rides the checkpoint materialization as an accumulator (ONE job per
    * round, no separate count action); when consecutive counts match, an
    * exact full-outer set-equality probe decides convergence — the
    * accumulator is only a gate, so inflated counts from task retries can
    * cost an extra probe but never a wrong answer. Returns
    * (labels, rounds). */
  def connectedComponentsWithRounds(
      vertices: DataFrame, edges: DataFrame, maxIter: Int = 30): (DataFrame, Int) = {
    val spark = vertices.sparkSession
    import spark.implicits._
    // checkpoint + edge count + an ORDER-INDEPENDENT content hash-sum
    // riding the SAME materialization job (no separate count action per
    // round). Task retries can only INFLATE the accumulator, never shrink
    // it, and a zero count is exact (retried empty tasks add zero) — so
    // count and hash-sum are the probe GATE only; convergence itself is
    // always decided by the exact set-equality job below. The hash-sum
    // gate matters on contraction plateaus (path graphs hold |E| constant
    // for several rounds while the sets still churn): without it every
    // plateau round paid the full-outer probe; with it the probe fires
    // once, at actual convergence, up to a vanishing 2^-64-scale
    // coincidence that would only cost one extra (exact) probe.
    // The typed map costs one encode pass over ≤|E| 16-byte rows.
    def ckCount(df: DataFrame, tag: String): (DataFrame, Long, Long) = {
      val acc = spark.sparkContext.longAccumulator(s"cc_edges_$tag")
      val hacc = spark.sparkContext.longAccumulator(s"cc_hash_$tag")
      val ck = ckFresh(df.as[(Long, Long)]
        .map { r =>
          acc.add(1L)
          var z = r._1 * 0x9E3779B97F4A7C15L + r._2
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          hacc.add((z ^ (z >>> 27)) * 0x94D049BB133111EBL)
          r
        }.toDF("u", "v"))
      (ck, acc.value, hacc.value)
    }
    // exact undirected-set equality: one full-outer join aggregation —
    // zero rows unmatched on either side ⟺ identical edge sets (both
    // inputs are distinct sets by construction)
    def sameEdgeSet(x: DataFrame, y: DataFrame): Boolean = {
      val mism = x.withColumn("l", lit(1))
        .join(y.withColumn("r", lit(1)), Seq("u", "v"), "full_outer")
        .agg(coalesce(sum(when(col("l").isNull || col("r").isNull, 1L)
          .otherwise(0L)), lit(0L)))
        .head.getLong(0)
      mism == 0L
    }
    var (e, prevCnt, prevHash) = ckCount(edges
      .select(greatest(col("a").cast("long"), col("b").cast("long")).as("u"),
        least(col("a").cast("long"), col("b").cast("long")).as("v"))
      .where(col("u") =!= col("v")).distinct(), "init")
    var it = 0
    var stable = prevCnt == 0L
    while (!stable && it < maxIter) {
      it += 1
      // Each star phase computes its neighborhood minimum as a per-key
      // HASH AGGREGATE (map-side combined — the exchange moves node-sized
      // partials, not edges) re-attached by an equi-join that AQE
      // broadcasts at node scale and skew-splits at corpus scale. A
      // mid-r06 formulation computed the same minimum as an unordered
      // WINDOW sharing the phase's exchange (one fewer pipeline) — and
      // OOMed ScaleDbscan's 2M-point giant component: WindowExec BUFFERS
      // each partition, and once stars form the component root's
      // partition is component-sized. Aggregates and joins are the two
      // operators Spark can skew-handle (guide §2.5 — windows it cannot);
      // the big side is never sorted or buffered here.
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .union(e.select(col("v").as("a"), col("u").as("b")))
      // large-star: m = min(closed neighborhood of a); larger neighbors
      // re-attach to m. Duplicate (u, v) rows (two a's sharing both m and
      // a larger neighbor) are harmless — the canonical distinct collapses
      // them before the count.
      val e1 = sym
        .join(sym.groupBy("a").agg(min(col("b")).as("nb")), Seq("a"))
        .withColumn("m", least(col("a"), col("nb")))
        .where(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
      // small-star over the hi→lo orientation (every neighbor here < u,
      // so m = min(N⁻(u)); the smaller neighbors and u itself re-attach).
      // e1 appears twice below (join probe and groupBy input); the
      // large-star phase runs once per round only because Spark reuses
      // the shared exchange (spark.sql.exchange.reuse). AltStarPlanSpec's
      // three-shuffle-stage assertion guards that reuse.
      val (e2, cnt, h) = ckCount(e1
        .join(e1.groupBy("u").agg(min(col("v")).as("m")), Seq("u"))
        .select(explode(array(
          struct(col("v").as("n"), col("m").as("m")),
          struct(col("u").as("n"), col("m").as("m")))).as("s"))
        .select(col("s.n").as("n"), col("s.m").as("m"))
        .where(col("n") =!= col("m"))
        .select(greatest(col("n"), col("m")).as("u"), least(col("n"), col("m")).as("v"))
        .distinct(), it.toString)
      stable = cnt == prevCnt && h == prevHash && sameEdgeSet(e2, e)
      prevCnt = cnt
      prevHash = h
      e = e2
    }
    require(stable, s"connectedComponents still churning after $maxIter alternating-star rounds")
    // at the fixpoint every non-root vertex carries exactly one (u, root)
    // edge; the min() is belt-and-braces for the labels contract
    val roots = e.groupBy(col("u").as("bid")).agg(min(col("v")).as("root"))
    val labels = vertices.select(col("bid"))
      .join(roots, Seq("bid"), "left")
      .select(col("bid"), coalesce(col("root"), col("bid")).as("comp"))
    (labels, it)
  }

  /** Incremental component maintenance for edge DELTAS — the crawl-ingest
    * pattern where yesterday's corpus is already labeled and today's batch
    * adds edges (and possibly new vertices). The labeled corpus is NEVER
    * re-solved: each delta edge contracts to its endpoints' current
    * component roots (two equi-joins against `labels`), intra-component
    * edges drop out, and the alternating-star contraction runs on the
    * CONTRACTED graph only — vertices = roots the delta touches, edges =
    * cross-component delta edges — so the iterative work is bounded by
    * the DELTA, not the corpus. Relabeling is one equi-join on comp
    * against the root-rewrite map (delta-bounded, so AQE broadcasts it).
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
      .where(col("a") =!= col("b"))
    val roots = connectedComponentsWithRounds(
      contracted.select(explode(array(col("a"), col("b"))).as("bid")).distinct(),
      contracted, maxIter)._1
    val rewrite = roots.filter(col("bid") =!= col("comp"))
      .select(col("bid").as("comp"), col("comp").as("newComp"))
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
