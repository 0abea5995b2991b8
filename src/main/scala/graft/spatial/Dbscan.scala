package graft.spatial

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed grid-bucketed DBSCAN over a point table — density clustering
  * of geotagged pages (the reference's zoning groups buildings by adjacency,
  * `cons.py` get_groups_by_adjacent_buildings; DBSCAN is the same
  * "component over a proximity graph" shape generalized from shared-segment
  * adjacency to an ε-ball, which is what clustering page geotags at corpus
  * scale needs).
  *
  * Plan shape, built for 10^12 points:
  *  - candidate pairs come from ONE equi-join on ε-grid cells: the probe
  *    side replicates each point into the FORWARD HALF of its 3×3
  *    neighborhood (home cell + 4 lexicographically-forward neighbors — a
  *    constant 5× explode, literal offsets, stays in codegen), the build
  *    side keeps each point in its home cell, so every UNORDERED pair
  *    within ε appears EXACTLY once (same-cell pairs deduplicated by
  *    ia < ib; for distinct cells exactly one offset direction is
  *    forward) — no distinct, per-cell width density-bounded, and the
  *    ordered neighbor stream is a mirror PROJECTION of the cached pair
  *    set, so the join shuffles and computes half the candidates.
  *  - neighbor counts are one map-side-combined groupBy on the pair stream.
  *  - core flags never leave the executors; the ε-graph restricted to core
  *    points feeds the alternating-star components
  *    ([[graft.ops.Adjacency.connectedComponentsWithRounds]], O(log² n)
  *    rounds INDEPENDENT of graph diameter — an ε-percolation cluster is
  *    exactly the high-diameter snake that defeats label propagation), so
  *    cluster ids are min-core-id — deterministic at any parallelism.
  *  - border points take the MIN cluster among their core neighbors (the
  *    textbook algorithm is first-toucher-wins, i.e. scan-order-dependent;
  *    min is the deterministic refinement a reproducible pipeline needs).
  *
  * Output: (id, role core|border|noise, cluster; noise = -1).
  */
object Dbscan {

  /** @param points (id: long, x: double, y: double)
    * @param eps     ε neighborhood radius (euclidean)
    * @param minPts  core iff |N_ε(p)| >= minPts, the point itself included
    */
  def dbscan(points: DataFrame, eps: Double, minPts: Int): DataFrame = {
    val spark = points.sparkSession
    val eps2 = eps * eps
    val cx = floor(col("x") / lit(eps)).cast("long")
    val cy = floor(col("y") / lit(eps)).cast("long")
    val home = points.select(col("id").as("ib"), col("x").as("bx"),
      col("y").as("by"), cx.as("cx"), cy.as("cy"))
    // half-window replication (r06, guide §2.3 — shuffle fewer bytes): the
    // join produces each UNORDERED pair exactly once and the ordered
    // neighbor stream is recovered by mirroring the (cached) result, so
    // the probe side replicates into 5 cells instead of 9 — the home cell
    // (same-cell pairs, deduplicated by ia < ib) plus the lexicographically
    // FORWARD half of the 8 neighbors: for any two DISTINCT Chebyshev-1
    // cells exactly one of the two offset directions (δ vs −δ) is forward,
    // so every cross-cell pair lands in exactly one probe row's join cell.
    // Literal-array explode as before (codegen-safe, the SimHash trick).
    val offsets = array(Seq((0L, 0L), (0L, 1L), (1L, -1L), (1L, 0L), (1L, 1L))
      .map { case (dx, dy) =>
        struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)
    // window prune (r06): a probe row whose MINIMUM possible distance to
    // the target cell's rectangle already exceeds ε cannot produce a pair
    // — point-to-interval distance per axis is two subtractions
    // (exactness: only provably-empty candidates are dropped; the home
    // cell passes trivially at distance 0)
    val probe = points
      .select(col("id").as("ia"), col("x").as("ax"), col("y").as("ay"),
        cx.as("pcx"), cy.as("pcy"), explode(offsets).as("o"))
      .select(col("ia"), col("ax"), col("ay"),
        (col("o.dx") === 0L && col("o.dy") === 0L).as("same"),
        (col("pcx") + col("o.dx")).as("cx"), (col("pcy") + col("o.dy")).as("cy"))
      .where {
        val dxm = greatest(lit(0.0), col("cx") * lit(eps) - col("ax"),
          col("ax") - (col("cx") + 1) * lit(eps))
        val dym = greatest(lit(0.0), col("cy") * lit(eps) - col("ay"),
          col("ay") - (col("cy") + 1) * lit(eps))
        dxm * dxm + dym * dym <= lit(eps2)
      }
    val dist2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    // unordered pairs, each exactly once; persisted — every consumer reads
    // the cache, the mirror below is a projection of it (NOT a re-join)
    val unordered = graft.CacheBin.persist(
      probe.join(home, Seq("cx", "cy"))
        .where((!col("same") || col("ia") < col("ib")) &&
          col("ia") =!= col("ib") && dist2 <= lit(eps2))
        .select(col("ia"), col("ib")))
    // ordered neighbor stream (both directions) for degree counts and
    // border assignment — ONE cache scan with a 2-way explode, not a
    // self-union (whose two branches would each scan/compute the cache)
    val pairs = unordered
      .select(explode(array(
        struct(col("ia"), col("ib")),
        struct(col("ib").as("ia"), col("ia").as("ib")))).as("p"))
      .select(col("p.ia").as("ia"), col("p.ib").as("ib"))
    val deg = pairs.groupBy(col("ia").as("id")).agg(count(lit(1)).as("nn"))
    val core = points.select(col("id"))
      .join(deg, Seq("id"), "left")
      .where(coalesce(col("nn"), lit(0L)) + lit(1L) >= lit(minPts.toLong))
      .select(col("id"))
    val coreB = graft.CacheBin.persist(core)
    // ε-graph restricted to core endpoints: `unordered` already holds each
    // undirected edge exactly once — normalize to id order for components
    val coreEdges = unordered
      .select(least(col("ia"), col("ib")).as("ia"),
        greatest(col("ia"), col("ib")).as("ib"))
      .join(coreB.withColumnRenamed("id", "ia"), Seq("ia"), "left_semi")
      .join(coreB.withColumnRenamed("id", "ib"), Seq("ib"), "left_semi")
      .select(col("ia").as("a"), col("ib").as("b"))
    val labels = graft.ops.Adjacency.connectedComponents(
      coreB.select(col("id").as("bid")), coreEdges)
    val coreOut = labels.select(col("bid").as("id"), lit("core").as("role"),
      col("comp").as("cluster"))
    // border: non-core with >= 1 core neighbor → min core-neighbor label
    val borderOut = pairs
      .join(coreB.withColumnRenamed("id", "ia"), Seq("ia"), "left_anti")
      .join(labels.select(col("bid").as("ib"), col("comp")), Seq("ib"))
      .groupBy(col("ia").as("id"))
      .agg(min(col("comp")).as("cluster"))
      .select(col("id"), lit("border").as("role"), col("cluster"))
    val assigned = coreOut.unionByName(borderOut)
    val noise = points.select(col("id"))
      .join(assigned.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), lit("noise").as("role"), lit(-1L).as("cluster"))
    assigned.unionByName(noise)
  }

  /** EXACT dense-cell contraction DBSCAN (the Gan–Tao grid observation,
    * PODS'15): on a grid of side s = ε/1.5, any two same-cell points are
    * within s·√2 ≈ 0.94ε < ε of each other (strict, so no fp-boundary
    * hazard), hence a cell holding ≥ minPts points is ALL CORE with no
    * intra-cell distance checks, and the whole cell contracts to ONE
    * supernode (id = min point id in the cell — which is the cell's min
    * core id, preserving [[dbscan]]'s min-core-id labels exactly).
    *
    * What that buys at city-hotspot skew (the regime geotagged pages live
    * in): the O(d²)-per-cell intra-cell pair volume — the dominant term
    * when most points sit in dense cells — is never materialized; the
    * degree aggregation runs over SPARSE-probe pairs only; and the
    * component graph has one vertex per dense cell instead of
    * one per point, collapsing both the per-round shuffle volume and
    * (via the contracted graph's smaller diameter) the round count.
    *
    * Exactness: the candidate window is Chebyshev ≤ 2 in the s-grid
    * (ε = 1.5s so an axis gap > 2 cells means distance > 2s = 1.33ε) —
    * the per-point sparse-probe stream covers all 25 offsets (sparse
    * points need their full neighbor lists), while the dense↔dense
    * supernode stream probes only the 12 forward offsets and normalizes
    * with least/greatest (each witness pair exactly once). Output is
    * row-identical to
    * [[dbscan]]: same roles, same min-core-id clusters, same min-label
    * border rule (q_dbscan_dense is gated on the SAME oracle replay).
    */
  /** @param forceContraction skip the cost-model dispatch and always run
    *   the contraction plan — a test/operations hook (the specs use it to
    *   pin the contraction machinery on clouds the dispatch would route
    *   to the plain plan; both routes are result-identical) */
  def dbscanDense(points: DataFrame, eps: Double, minPts: Int,
      forceContraction: Boolean = false): DataFrame = {
    val eps2 = eps * eps
    val s = eps / 1.5
    // ONE pass over the points builds BOTH grids' occupancy: each point
    // has exactly one (s-cell, ε-cell) combo (≤4 combo rows per s-cell
    // where the coarser ε boundary crosses it), so the combo rollup
    // re-aggregates into the s-grid stats the contraction needs AND the
    // ε-grid stats the dispatch needs without a second corpus scan
    val combo = graft.CacheBin.persist(points
      .groupBy(floor(col("x") / lit(s)).cast("long").as("cx"),
        floor(col("y") / lit(s)).cast("long").as("cy"),
        floor(col("x") / lit(eps)).cast("long").as("ex"),
        floor(col("y") / lit(eps)).cast("long").as("ey"))
      .agg(count(lit(1)).as("m"), min(col("id")).as("snid")))
    val cellStatsM = combo.groupBy("cx", "cy")
      .agg(sum("m").as("m"), min("snid").as("snid"))
    val cellStats0 = cellStatsM.select(col("cx"), col("cy"),
      (col("m") >= lit(minPts.toLong)).as("dense"), col("snid"))
    // ---- plan dispatch (r06, the AQE principle: pick between two EXACT,
    // oracle-pinned plans by the work each would do — runtime stats, no
    // tuned constants). The dispatch compares the candidate-pair volume
    // (join-condition evaluations before the rectangle prune) each plan
    // generates, computed EXACTLY from cell occupancy with decimal sums
    // (order-independent, overflow-safe at any scale):
    //  * dense plan: sparse points probe the full Chebyshev-2 s-grid
    //    window (Σ_{a sparse} m_a·Σ_{b∈25win(a)} m_b) plus the
    //    dense↔dense forward-half witness stream
    //    (Σ_{a dense} m_a·Σ_{b dense ∈ fwd12(a)} m_b);
    //  * plain plan ([[dbscan]]): ε-grid forward-half window
    //    (Σ m_a·m_b over cell pairs with b−a ∈ {0}∪fwd4).
    // Either branch returns the identical row set (DbscanDenseSpec pins
    // dense ≡ plain on four cloud shapes), so the choice can never change
    // the result — only the plan. Uniform sub/near-critical data picks
    // the plain ε-grid (its 3×3 window beats the finer s-grid's 25-cell
    // sparse probes); hotspot-skewed data picks the contraction (the
    // intra-cell m² term the plain estimate carries is exactly what the
    // supernodes never materialize). The estimator is join-free and
    // occupancy-sized — one exploded union, one groupBy, one scalar
    // aggregate, one action (see [[pairVolumeEstimates]]).
    if (!forceContraction) {
      val (denseEst, plainEst) = pairVolumeEstimates(combo, minPts)
      if (plainEst.compareTo(denseEst) <= 0) return dbscan(points, eps, minPts)
    }
    val tagged = graft.CacheBin.persist(points
      .select(col("id"), col("x"), col("y"),
        floor(col("x") / lit(s)).cast("long").as("cx"),
        floor(col("y") / lit(s)).cast("long").as("cy"))
      .join(cellStats0, Seq("cx", "cy")))
    val offsets = array((for (dx <- -2 to 2; dy <- -2 to 2)
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val dist2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    // window prune (r06, same proof as dbscan's): drop probe rows whose
    // point-to-cell-rectangle distance exceeds ε — on the Chebyshev-2
    // 25-cell window roughly half the ring cells are provably out of
    // reach for any given point position
    def cellPrune(ax: org.apache.spark.sql.Column, ay: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = {
      val dxm = greatest(lit(0.0), col("cx") * lit(s) - ax, ax - (col("cx") + 1) * lit(s))
      val dym = greatest(lit(0.0), col("cy") * lit(s) - ay, ay - (col("cy") + 1) * lit(s))
      dxm * dxm + dym * dym <= lit(eps2)
    }
    val build = tagged.select(col("id").as("ib"), col("x").as("bx"),
      col("y").as("by"), col("cx"), col("cy"), col("dense").as("bdense"),
      col("snid").as("bsnid"))
    // A) sparse-probe pairs: the ONLY per-point pair stream — probe side
    // holds sparse-cell points alone, so hotspot mass never fans out
    val spairs = graft.CacheBin.persist(tagged.where(!col("dense"))
      .select(col("id").as("ia"), col("x").as("ax"), col("y").as("ay"),
        col("cx").as("hx"), col("cy").as("hy"), explode(offsets).as("o"))
      .select(col("ia"), col("ax"), col("ay"),
        (col("hx") + col("o.dx")).as("cx"), (col("hy") + col("o.dy")).as("cy"))
      .where(cellPrune(col("ax"), col("ay")))
      .join(build, Seq("cx", "cy"))
      .where(col("ia") =!= col("ib") && dist2 <= lit(eps2))
      .select(col("ia"), col("ib"), col("bdense"), col("bsnid")))
    val sparseCore = graft.CacheBin.persist(spairs
      .groupBy(col("ia")).agg(count(lit(1)).as("nn"))
      .where(col("nn") + lit(1L) >= lit(minPts.toLong))
      .select(col("ia").as("id")))
    // B) dense↔dense supernode witness edges: dense probe into the
    // lexicographically FORWARD half of the Chebyshev-2 window (12 of 24
    // neighbor cells, r06 guide §2.3 — for any two DISTINCT cells exactly
    // one offset direction is forward, so every cross-cell witness pair is
    // generated exactly once and snid order is recovered by
    // least/greatest); intra-cell pairs excluded BY CONSTRUCTION (home !=
    // build cell), collapsed to one edge per supernode pair before
    // anything shuffles on. Distinct dense cells have disjoint point sets,
    // so asnid != bsnid always.
    val fwdOffsets = array((for {
      dx <- -2L to 2L; dy <- -2L to 2L
      if dx > 0L || (dx == 0L && dy > 0L)
    } yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
    val dd = tagged.where(col("dense"))
      .select(col("x").as("ax"), col("y").as("ay"), col("snid").as("asnid"),
        col("cx").as("hx"), col("cy").as("hy"), explode(fwdOffsets).as("o"))
      .select(col("ax"), col("ay"), col("asnid"),
        (col("hx") + col("o.dx")).as("cx"), (col("hy") + col("o.dy")).as("cy"))
      .where(cellPrune(col("ax"), col("ay")))
      .join(build.where(col("bdense")), Seq("cx", "cy"))
      .where(dist2 <= lit(eps2))
      .groupBy(least(col("asnid"), col("bsnid")).as("a"),
        greatest(col("asnid"), col("bsnid")).as("b")).agg(count(lit(1)))
      .select(col("a"), col("b"))
    // sparse-core ↔ sparse-core / ↔ dense-supernode edges from stream A
    val sFrom = spairs.join(sparseCore.withColumnRenamed("id", "ia"),
      Seq("ia"), "left_semi")
    val ss = sFrom.where(!col("bdense") && col("ia") < col("ib"))
      .join(sparseCore.withColumnRenamed("id", "ib"), Seq("ib"), "left_semi")
      .select(col("ia").as("a"), col("ib").as("b"))
    val sd = sFrom.where(col("bdense"))
      .groupBy(col("ia").as("a"), col("bsnid").as("b")).agg(count(lit(1)))
      .select(col("a"), col("b"))
    val verts = tagged.where(col("dense"))
      .select(col("snid").as("bid")).distinct()
      .unionByName(sparseCore.select(col("id").as("bid")))
    val labels = graft.CacheBin.persist(graft.ops.Adjacency.connectedComponents(
      verts, dd.unionByName(ss).unionByName(sd)))
    // expand supernode labels back onto dense-cell points; sparse cores
    // carry their own vertex label
    val coreOut = tagged.where(col("dense"))
      .join(labels.select(col("bid").as("snid"), col("comp")), Seq("snid"))
      .select(col("id"), lit("core").as("role"), col("comp").as("cluster"))
      .unionByName(labels.join(
          sparseCore.withColumnRenamed("id", "bid"), Seq("bid"), "left_semi")
        .select(col("bid").as("id"), lit("core").as("role"),
          col("comp").as("cluster")))
    // border: sparse non-core with >= 1 core neighbor -> min neighbor label
    val borderOut = spairs
      .join(sparseCore.withColumnRenamed("id", "ia"), Seq("ia"), "left_anti")
      .select(col("ia"),
        when(col("bdense"), col("bsnid")).otherwise(col("ib")).as("bid"),
        col("bdense"))
      .join(labels.select(col("bid"), col("comp")), Seq("bid"))
      .groupBy(col("ia").as("id")).agg(min(col("comp")).as("cluster"))
      .select(col("id"), lit("border").as("role"), col("cluster"))
    val assigned = coreOut.unionByName(borderOut)
    val noise = tagged.select(col("id"))
      .join(assigned.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), lit("noise").as("role"), lit(-1L).as("cluster"))
    assigned.unionByName(noise)
  }

  /** Candidate-pair volume each [[dbscanDense]] plan would evaluate,
    * computed EXACTLY from the (s-cell, ε-cell) occupancy rollup `combo`
    * ((cx, cy, ex, ey, m, ...)) — the cost model behind the plan
    * dispatch. Returns (densePlanVolume, plainPlanVolume).
    *
    * Join-free: a window pair sum Σ_{(a,b): b−a ∈ W} m_a·m_b decomposes
    * per TARGET cell t as m_t · (Σ_{δ∈W} m_{t−δ}), so each source cell
    * EMITS its mass into its window targets, one groupBy collects the
    * per-target source sums next to the target's own mass (the δ=0
    * emission doubles as the self marker), and one scalar aggregate
    * multiplies and totals — one exchange chain, one action, no joins.
    * The per-target sums (ss, sd, tm) are long sums of cell masses; only
    * the products and the two totals are decimal(38,0). Long sums are
    * exact and order-independent while a target's window mass stays
    * below 2^63 (points, not pairs), and the decimal products and totals
    * keep the plan choice deterministic at any parallelism and
    * overflow-safe at 10^12 points.
    * Volumes counted exactly as the plans generate candidates:
    *  - dense plan: sparse sources emit into all 25 Chebyshev-2 targets
    *    (the spairs stream probes every build cell), dense sources emit
    *    into the 12 forward targets counted only when the target is
    *    dense (the dd witness stream);
    *  - plain plan: every ε-cell emits into its {0}∪fwd4 targets
    *    ([[dbscan]]'s half-window probe). */
  private[spatial] def pairVolumeEstimates(combo: DataFrame, minPts: Int)
      : (java.math.BigDecimal, java.math.BigDecimal) = {
    val dec = "decimal(38,0)"
    // s-grid emissions need the per-CELL dense flag, which no single
    // combo slice can decide — roll up to s-cells first (cell-sized)
    val sCells = combo.groupBy("cx", "cy").agg(sum("m").as("m"))
      .select(col("cx"), col("cy"), col("m"),
        (col("m") >= lit(minPts.toLong)).as("dense"))
    val cheb2 = array((for {
      dx <- -2L to 2L; dy <- -2L to 2L
    } yield struct(lit(dx).as("dx"), lit(dy).as("dy"),
      lit(dx > 0L || (dx == 0L && dy > 0L)).as("fwd"))): _*)
    val zero = lit(0L)
    val sEmit = sCells
      .select(col("cx"), col("cy"), col("m"), col("dense"),
        explode(cheb2).as("o"))
      .select(lit("s").as("g"),
        (col("cx") + col("o.dx")).as("tx"), (col("cy") + col("o.dy")).as("ty"),
        when(!col("dense"), col("m")).otherwise(zero).as("cs"),
        when(col("dense") && col("o.fwd"), col("m")).otherwise(zero).as("cd"),
        when(col("o.dx") === 0L && col("o.dy") === 0L, col("m"))
          .otherwise(zero).as("tm"),
        when(col("o.dx") === 0L && col("o.dy") === 0L && col("dense"), lit(1L))
          .otherwise(zero).as("td"))
    val fwd5 = array(Seq((0L, 0L), (0L, 1L), (1L, -1L), (1L, 0L), (1L, 1L))
      .map { case (dx, dy) =>
        struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)
    // ε-grid emissions come straight off combo rows — masses are additive
    // across an ε-cell's combo slices, including the δ=0 self emissions
    val eEmit = combo
      .select(col("ex"), col("ey"), col("m"), explode(fwd5).as("o"))
      .select(lit("e").as("g"),
        (col("ex") + col("o.dx")).as("tx"), (col("ey") + col("o.dy")).as("ty"),
        col("m").as("cs"), zero.as("cd"),
        when(col("o.dx") === 0L && col("o.dy") === 0L, col("m"))
          .otherwise(zero).as("tm"),
        zero.as("td"))
    val perTarget = sEmit.unionByName(eEmit)
      .groupBy("g", "tx", "ty")
      .agg(sum("cs").as("ss"), sum("cd").as("sd"),
        sum("tm").as("tm"), max("td").as("td"))
    val r = perTarget.agg(
      coalesce(sum(when(col("g") === "s",
        col("tm").cast(dec) * col("ss").cast(dec) +
          when(col("td") === 1L, col("tm").cast(dec) * col("sd").cast(dec))
            .otherwise(lit(0).cast(dec)))), lit(0).cast(dec)).as("de"),
      coalesce(sum(when(col("g") === "e",
        col("tm").cast(dec) * col("ss").cast(dec))), lit(0).cast(dec)).as("pe"))
      .head()
    (new java.math.BigDecimal(r.getDecimal(0).toBigInteger),
      new java.math.BigDecimal(r.getDecimal(1).toBigInteger))
  }
}
