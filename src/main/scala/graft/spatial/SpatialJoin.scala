package graft.spatial

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.{Geom, Pt}

/** Admin-zone polygon (the reference's ZoningLayer row,
  * catatom2osm/geo/layer/zoning.py:31-40, re-hosted as a typed Dataset row).
  * `geometry` is a multipolygon of OPEN rings. */
final case class Zone(zone_id: Long, label: String, level: String, geometry: Array[Array[Array[Pt]]])

/** A site for kNN joins (the "building edge / highway" side of the
  * reference's nearest-feature probes). */
final case class Site(site_id: Long, x: Double, y: Double)

/** Point with its row id (the page/document side of the spatial join). */
final case class IdPoint(id: Long, x: Double, y: Double)

/** Spatial join operators — the engine's flagship.
  *
  * Re-creates the reference's R-tree candidates + exact predicate pattern
  * (ParcelLayer.set_zones, catatom2osm/geo/layer/parcel.py:91-114): here the
  * candidate stage is a cell equi-join (CellGrid) that Catalyst plans as a
  * hash join with the small side broadcast, and the refinement is exact
  * ray-casting PIP.
  *
  * The cell-keyed codegen joins ([[pipJoinCodegen]], [[pipJoinHex]],
  * [[pipJoinPartitionedSalted]], EventStream.zoneWindowCounts) share one
  * zone side, [[zoneCells]]: one row per (covering cell, zone) carrying
  * only what a point of that cell needs. An INTERIOR cell (wholly inside
  * the zone) carries no edges and accepts every candidate; a boundary cell
  * carries the zone's edges clipped to the cell, so a candidate pays a
  * few edge tests instead of the whole ring. Both hold only for points
  * in the cell, so each row also carries the cell's box and the join
  * condition is `<point in box> AND (interior OR point_in_polygon(x, y,
  * edges))` ([[inZoneCell]]); the result is row-identical to refining
  * every candidate against all of the zone's edges.
  *
  * Two physical modes, chosen by the zone side's size (the analog of
  * Catalyst's broadcast-vs-shuffle choice):
  *  - broadcast: the zone side is broadcast and probed per partition —
  *    zero shuffle of the big point side.
  *  - partitioned: both sides keyed by covering cell and equi-joined — used
  *    when zones don't fit in one executor; the point side is salted on hot
  *    cells upstream if skewed.
  */
object SpatialJoin {

  /** Driver-side cell index over zones: cell id -> zones whose bbox covers it. */
  def buildZoneIndex(zones: Seq[Zone], grid: CellGrid): Map[Long, Array[Zone]] =
    zones
      .flatMap(z => grid.coverPolygon(z.geometry).map(c => (c, z)))
      .groupBy(_._1)
      .map { case (c, zs) => (c, zs.map(_._2).sortBy(_.zone_id).toArray) }

  /** Broadcast PIP join: (id, x, y) points -> (id, zone_id) pairs, one row per
    * containing zone (overlapping zones produce multiple rows). */
  def pipJoinBroadcast(
      points: Dataset[IdPoint], zones: Seq[Zone], grid: CellGrid): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val index = spark.sparkContext.broadcast(buildZoneIndex(zones, grid))
    points
      .mapPartitions { it =>
        val idx = index.value
        it.flatMap { p =>
          idx.getOrElse(grid.cellOf(p.x, p.y), Array.empty[Zone]).iterator
            .filter(z => Geom.pointInMultiPolygon(Pt(p.x, p.y), z.geometry))
            .map(z => (p.id, z.zone_id))
        }
      }
      .toDF("id", "zone_id")
  }

  /** Partitioned PIP join: both sides exploded/keyed on covering cell and
    * equi-joined, then refined. Scales to zone sides too large to broadcast;
    * candidate pairs never exceed points × zones-overlapping-their-cell. */
  def pipJoinPartitioned(
      points: Dataset[IdPoint], zones: Dataset[Zone], grid: CellGrid): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val zoneCells = zones
      .flatMap(z => grid.coverPolygon(z.geometry).map(c => (c, z)))
      .toDF("cell", "zone")
    val ptCells = points
      .map(p => (grid.cellOf(p.x, p.y), p))
      .toDF("cell", "pt")
    ptCells
      .join(zoneCells, "cell")
      .select($"pt".as[IdPoint], $"zone".as[Zone])
      .filter { t: (IdPoint, Zone) =>
        Geom.pointInMultiPolygon(Pt(t._1.x, t._1.y), t._2.geometry)
      }
      .map(t => (t._1.id, t._2.zone_id))
      .toDF("id", "zone_id")
  }

  /** Salted partitioned PIP join — the skew lever for hot cells when the
    * zone side is too large to broadcast (north rule: "salted repartitioning
    * for hot-cell skew"). The big point side gets salt = pmod(hash(id),
    * nSalt) appended to its cell key; the zone side ([[zoneCellsOf]]) is
    * exploded ×nSalt — so a hot cell's candidate pairs spread over nSalt
    * reducers instead of one. Semantically identical to pipJoinPartitioned
    * (set-equality tested). */
  def pipJoinPartitionedSalted(
      points: DataFrame, idCol: String, xCol: String, yCol: String,
      zones: Dataset[Zone], grid: CellGrid, nSalt: Int = 8): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val zoneSide = zones
      .flatMap(z => zoneCellsOf(z, grid).flatMap(zc =>
        (0 until nSalt).map(s => zc.copy(cell = zc.cell * nSalt + s))))
      .withColumnRenamed("cell", "cellSalt")
    points
      .withColumn("cellSalt",
        grid.cellCol(col(xCol), col(yCol)) * nSalt +
          pmod(hash(col(idCol)), lit(nSalt)).cast("long"))
      .join(zoneSide, "cellSalt")
      .where(inZoneCell(col(xCol), col(yCol)))
      .select(col(idCol).as("id"), col("zone_id"))
  }

  /** One flattened edge of a zone, for the codegen PIP expression. */
  final case class Edge(ax: Double, ay: Double, bx: Double, by: Double)
  /** Zone exploded per covering cell with ALL of its edges: the row form
    * for refining against one whole zone (kernel probes, reference joins
    * in specs). */
  final case class ZoneCellEdges(cell: Long, zone_id: Long, edges: Array[Edge])
  /** One zone's share of one covering cell, a row of the zone side of the
    * cell-keyed PIP joins. `box_*`: the cell's box dilated by τ/2
    * ([[snapTolerance]]), which holds every point the index assigns to the
    * cell. `interior`: every point of the box lies inside the zone, and
    * `edges` is empty. Otherwise `edges` holds only the zone edges that can
    * toggle ray-casting parity for a point of the box ([[zoneRows]]). */
  final case class ZoneCell(cell: Long, zone_id: Long,
      box_xmin: Double, box_ymin: Double, box_xmax: Double, box_ymax: Double,
      interior: Boolean, edges: Array[Edge])

  /** Pre-flatten all ring edges of a zone (even-odd handles holes/parts). */
  def zoneEdges(z: Zone): Array[Edge] = {
    val out = scala.collection.mutable.ArrayBuffer[Edge]()
    for (poly <- z.geometry; ring <- poly) {
      val n = ring.length
      var i = 0
      while (i < n) {
        val a = ring(i); val b = ring((i + 1) % n)
        out += Edge(a.x, a.y, b.x, b.y)
        i += 1
      }
    }
    out.toArray
  }

  /** τ for cells of size `cellScale` over a geometry with bbox `bb` on a grid
    * anchored at `origin`: 1e-6 of the cell size, raised to 1000 ulps of the
    * coordinate magnitude when that is larger. The floating-point error of
    * a point's cell assignment and of the ray-crossing abscissa
    * `(bx - ax) * (y - ay) / (by - ay) + ax` stays below about 16 ulps of
    * that magnitude, so τ bounds both with a wide margin. */
  private def snapTolerance(cellScale: Double, bb: Geom.BBox, origin: Double): Double = {
    val mag = Seq(origin, bb.xmin, bb.xmax, bb.ymin, bb.ymax).map(math.abs).max + cellScale
    math.max(1e-6 * cellScale, 1e3 * math.ulp(mag))
  }

  /** Even-odd parity of (x, y) over `edges`, the rule `point_in_polygon`
    * computes. */
  private def evenOdd(x: Double, y: Double, edges: Array[Edge]): Boolean = {
    var inside = false
    var i = 0
    while (i < edges.length) {
      val e = edges(i)
      if ((e.ay > y) != (e.by > y) && x < (e.bx - e.ax) * (y - e.ay) / (e.by - e.ay) + e.ax)
        inside = !inside
      i += 1
    }
    inside
  }

  /** One zone's [[ZoneCell]] rows over its covering cells `(cell id, box)`,
    * with `tau` from [[snapTolerance]]. Per cell, the zone's edges are
    * first narrowed to those whose y-span meets the τ-padded row slab and
    * whose max x is not left of the τ-padded box: any other edge fails the
    * straddle test or the crossing test for every point within τ/2 of the
    * box, so it never toggles the parity there.
    *  - INTERIOR: no narrowed edge comes within τ of the box and the box
    *    centre is inside by [[evenOdd]]. The exact parity is then constant
    *    over the τ-dilated box, and τ/2 sits far above the floating-point
    *    error of the crossing abscissa, so `point_in_polygon` over all of
    *    the zone's edges accepts every point of the row's box. The row
    *    carries no edges.
    *  - boundary: the narrowed edges minus horizontal ones (which never
    *    straddle), in ring order. */
  private def zoneRows(z: Zone, cells: Seq[(Long, Geom.BBox)], tau: Double): Seq[ZoneCell] = {
    val edges = zoneEdges(z)
    cells.map { case (c, box) =>
      val yLo = box.ymin - tau; val yHi = box.ymax + tau
      val xLo = box.xmin - tau; val xHi = box.xmax + tau
      val near = edges.filter(e => math.min(e.ay, e.by) <= yHi && math.max(e.ay, e.by) >= yLo &&
        math.max(e.ax, e.bx) >= xLo)
      // x-range of an edge within the padded slab, against the padded box
      def touches(e: Edge): Boolean =
        if (e.ay == e.by) math.min(e.ax, e.bx) <= xHi
        else {
          val t0 = math.min(1.0, math.max(0.0, (yLo - e.ay) / (e.by - e.ay)))
          val t1 = math.min(1.0, math.max(0.0, (yHi - e.ay) / (e.by - e.ay)))
          val xa = e.ax + t0 * (e.bx - e.ax); val xb = e.ax + t1 * (e.bx - e.ax)
          math.max(xa, xb) >= xLo && math.min(xa, xb) <= xHi
        }
      val interior = !near.exists(touches) &&
        evenOdd((box.xmin + box.xmax) / 2, (box.ymin + box.ymax) / 2, near)
      val h = tau / 2
      ZoneCell(c, z.zone_id, box.xmin - h, box.ymin - h, box.xmax + h, box.ymax + h,
        interior, if (interior) Array.empty[Edge] else near.filter(e => e.ay != e.by))
    }
  }

  /** One zone's rows of [[zoneCells]]. Boxes come from the cover's axis
    * indices, not from the packed id, which names a different cell once
    * cx leaves [0, rowWidth). */
  def zoneCellsOf(z: Zone, grid: CellGrid): Seq[ZoneCell] =
    zoneRows(z, grid.coverPolygonCells(z.geometry).map { case (cx, cy) =>
      (grid.pack(cx, cy), grid.cellBox(cx, cy)) },
      snapTolerance(grid.cellSize, Geom.bbox(z.geometry), grid.origin))

  /** The zone side of the CellGrid-keyed PIP joins, one row per
    * `grid.coverPolygon` cell and zone. */
  def zoneCells(zones: Seq[Zone], grid: CellGrid): Seq[ZoneCell] =
    zones.flatMap(zoneCellsOf(_, grid))

  /** The zone side of the hex-keyed join: HexGrid's cover, classified by
    * the same rule over each hex's bounding box. The box is decoded from
    * the hex id, so zones must lie within [[HexGrid.reach]]. */
  def hexZoneCells(zones: Seq[Zone], size: Double): Seq[ZoneCell] =
    zones.flatMap { z =>
      val bb = Geom.bbox(z.geometry); val r = HexGrid.reach(size)
      require(bb.xmin > -r && bb.xmax < r && bb.ymin > -r && bb.ymax < r,
        s"zone ${z.zone_id} (bbox $bb) leaves the hex reach ±$r")
      zoneRows(z, HexGrid.coverPolygon(z.geometry, size).map(c => (c, HexGrid.cellBox(c, size))),
        snapTolerance(size, bb, 0.0))
    }

  /** The refinement over a [[ZoneCell]] row joined to point (x, y): the
    * point lies in the row's box, then an interior cell accepts, else
    * even-odd PIP over the clipped edges. The box test rejects a point
    * whose cell id aliases the row's cell (a packed id collides once cx
    * leaves [0, rowWidth) or cy * rowWidth overflows), and NaN or infinite
    * coordinates, which cast to real cells. `Or` short-circuits in
    * generated code, so interior candidates skip PIP. */
  def inZoneCell(x: Column, y: Column): Column =
    x >= col("box_xmin") && x <= col("box_xmax") && y >= col("box_ymin") && y <= col("box_ymax") &&
      (col("interior") || graft.functions.PointInPolygonExpr.pointInPolygon(x, y, col("edges")))

  /** Broadcast cell join of `points` against a [[ZoneCell]] side, keyed by
    * `cell` (the point's cell id), refined by [[inZoneCell]]. */
  private def joinZoneCells(points: DataFrame, idCol: String, xCol: String, yCol: String,
      cell: Column, zoneSide: Seq[ZoneCell]): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    points
      .withColumn("cell", cell)
      .join(broadcast(spark.createDataset(zoneSide).toDF()), "cell")
      .where(inZoneCell(col(xCol), col(yCol)))
      .select(col(idCol).as("id"), col("zone_id"))
  }

  /** Fully-codegen broadcast PIP join: the point side never leaves Catalyst.
    * Candidate prune = broadcast hash join on the UDF-free cell column
    * against [[zoneCells]]; refinement = [[inZoneCell]]: interior cells
    * accept outright, boundary cells run the native PointInPolygonExpr
    * (doGenCode) over the zone's edges clipped to the cell. The whole
    * scan→join→filter pipeline stays inside whole-stage codegen with zero
    * object Encoders on the 10^12-row side. Preferred physical mode. */
  def pipJoinCodegen(
      points: DataFrame, idCol: String, xCol: String, yCol: String,
      zones: Seq[Zone], grid: CellGrid): DataFrame =
    joinZoneCells(points, idCol, xCol, yCol,
      grid.cellCol(col(xCol), col(yCol)), zoneCells(zones, grid))

  /** The flagship join keyed on HEX covering cells — the north star's
    * literal "broadcast-or-partitioned spatial hash join keyed on H3
    * res-9 … covering cells with an exact ray-casting point-in-polygon
    * refinement": zones exploded per HexGrid.coverPolygon cell
    * (driver-side, pruned — not a bbox blanket) and classified per hex
    * ([[hexZoneCells]]), broadcast; the corpus side computes one native
    * hex_cell id and probes; the refinement runs inside the join
    * condition, all in one codegen stage. Same plan contract as
    * [[pipJoinCodegen]], hex key instead of the grid's. */
  def pipJoinHex(
      points: DataFrame, idCol: String, xCol: String, yCol: String,
      zones: Seq[Zone], size: Double): DataFrame =
    joinZoneCells(points, idCol, xCol, yCol,
      HexGrid.cellCol(col(xCol), col(yCol), size), hexZoneCells(zones, size))

  /** Polygon→zone assignment by the ≥50%-area rule (ParcelLayer.set_zones +
    * is_inside_area, parcel.py:91-114 / geo/tools.py:11-19): a feature
    * belongs to a zone if fully contained or if ≥ half its area overlaps.
    * Candidates via the feature's bbox covering cells against the broadcast
    * zone index; exact overlap via convex clipping (zones are convex).
    * Multi-zone overlap can assign a feature to at most two zones at 50/50 —
    * ties resolved by emitting both, as the reference's two-pass does. */
  def assignZonesByArea(
      features: Dataset[(Long, Array[graft.geom.Pt])],
      zones: Seq[Zone], grid: CellGrid): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    val index = spark.sparkContext.broadcast(buildZoneIndex(zones, grid))
    features
      .mapPartitions { it =>
        val idx = index.value
        it.flatMap { case (id, ring) =>
          val cand = grid.cover(Geom.bbox(Array(Array(ring))))
            .flatMap(c => idx.getOrElse(c, Array.empty[Zone]))
            .distinct
          cand.iterator
            .filter(z => Geom.isInsideAreaConvex(ring, z.geometry.head.head))
            .map(z => (id, z.zone_id))
        }
      }
      .toDF("id", "zone_id")
  }

  /** Nearest-site join (the reference's closest-segment probe generalized:
    * cons.py:428-490 move_address nearest building edge; cdau.py:241-243
    * 5 m radius probe). Exact global nearest via ring-expanding cell search:
    * a site in a ring at Chebyshev distance k is at least (k-1)*cellSize away,
    * so the scan stops as soon as best <= (k-1)*cellSize. */
  def nearestSiteJoin(
      points: Dataset[IdPoint], sites: Seq[Site], grid: CellGrid): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    require(sites.nonEmpty, "nearestSiteJoin needs at least one site")
    val byCell: Map[(Long, Long), Array[Site]] = sites
      .groupBy(s => (grid.cellX(s.x), grid.cellY(s.y)))
      .map { case (c, ss) => (c, ss.sortBy(_.site_id).toArray) }
    val maxRing: Long = { // upper bound on rings ever needed
      val xs = sites.map(s => grid.cellX(s.x)); val ys = sites.map(s => grid.cellY(s.y))
      math.max(xs.max - xs.min, ys.max - ys.min) + 2
    }
    val bc = spark.sparkContext.broadcast(byCell)
    points
      .mapPartitions { it =>
        val idx = bc.value
        it.map { p =>
          val cx = grid.cellX(p.x); val cy = grid.cellY(p.y)
          var bestD2 = Double.MaxValue
          var bestId = Long.MaxValue
          var k = 0L
          var done = false
          while (!done) {
            val bound = (k - 1).toDouble * grid.cellSize
            if (k > 0 && bound > 0 && bestD2 <= bound * bound) done = true
            else if (k > maxRing + 1) done = true
            else {
              for ((rcx, rcy) <- grid.ringCells(cx, cy, k);
                   ss <- idx.get((rcx, rcy)); s <- ss) {
                val dx = p.x - s.x; val dy = p.y - s.y
                val d2 = dx * dx + dy * dy
                if (d2 < bestD2 || (d2 == bestD2 && s.site_id < bestId)) {
                  bestD2 = d2; bestId = s.site_id
                }
              }
              k += 1
            }
          }
          (p.id, bestId)
        }
      }
      .toDF("id", "site_id")
  }

  /** Dataset-partitioned radius join — for site sides beyond broadcast.
    * The SITE side explodes into its 3×3 cell neighborhood (constant ×9
    * blow-up of the small-to-medium side); the big point side is keyed by
    * its single cell, so it shuffles exactly once with one row per point.
    * Same output as radiusJoin (set-equality tested). */
  def radiusJoinPartitioned(
      points: Dataset[IdPoint], sites: Dataset[Site], grid: CellGrid,
      radius: Double): DataFrame = {
    require(grid.cellSize >= radius, "cellSize must be >= radius for 3x3 probe")
    val spark = points.sparkSession
    import spark.implicits._
    val siteCells = sites
      .flatMap(s => grid.neighborhood(s.x, s.y).map(c => (c, s.site_id, s.x, s.y)))
      .toDF("cell", "site_id", "sx", "sy")
    points
      .map(p => (grid.cellOf(p.x, p.y), p.id, p.x, p.y))
      .toDF("cell", "id", "px", "py")
      .join(siteCells, "cell")
      .where(
        (col("px") - col("sx")) * (col("px") - col("sx")) +
          (col("py") - col("sy")) * (col("py") - col("sy")) <= lit(radius * radius))
      .select("id", "site_id")
  }

  /** Dataset-partitioned EXACT nearest-site join — the scale path when the
    * site side doesn't fit one executor. Geometric doubling over grid
    * granularity: round r equi-joins points against sites exploded into
    * their 3×3 neighborhood at cell size g = cellSize·4^r. A candidate at
    * distance d ≤ g is provably the global nearest (any unexamined site is
    * > g away), so the point resolves; unresolved points re-join at 4g.
    * Each round is one cell equi-join with a constant ×9 site explosion —
    * no ring scans, no broadcast — and rounds are log(extent/cellSize).
    * Ties break by site_id, matching nearestSiteJoin. */
  def nearestSiteJoinPartitioned(
      points: Dataset[IdPoint], sites: Dataset[Site], baseCell: Double,
      maxRounds: Int = 24): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    var unresolved = points
    val resolved = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var g = baseCell
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      val grid = CellGrid(g)
      val siteCells = sites
        .flatMap(s => grid.neighborhood(s.x, s.y).map(c => (c, s.site_id, s.x, s.y)))
        .toDF("cell", "site_id", "sx", "sy")
      val best = unresolved
        .map(p => (grid.cellOf(p.x, p.y), p.id, p.x, p.y))
        .toDF("cell", "id", "px", "py")
        .join(siteCells, "cell")
        .withColumn("d2",
          (col("px") - col("sx")) * (col("px") - col("sx")) +
            (col("py") - col("sy")) * (col("py") - col("sy")))
        .groupBy("id")
        .agg(min(struct(col("d2"), col("site_id"))).as("m"))
        .select(col("id"), col("m.site_id").as("site_id"), col("m.d2").as("d2"))
        .localCheckpoint() // eager: truncate the per-round lineage
      val won = best.filter(sqrt(col("d2")) <= lit(g)).select("id", "site_id")
      resolved += won
      unresolved = unresolved
        .join(won.select("id"), unresolved("id") === won("id"), "left_anti")
        .as[IdPoint]
        .localCheckpoint()
      done = unresolved.isEmpty
      g *= 4
      round += 1
    }
    require(done, s"nearestSiteJoinPartitioned did not converge in $maxRounds rounds")
    resolved.reduce(_ union _)
  }

  /** Radius join: all (point, site) pairs within `radius`. Requires
    * grid.cellSize >= radius so the 3×3 neighborhood covers the disc
    * (the reference's Point.boundingBox + R-tree probe, geo/point.py:21-25). */
  def radiusJoin(
      points: Dataset[IdPoint], sites: Seq[Site], grid: CellGrid, radius: Double): DataFrame = {
    require(grid.cellSize >= radius, "cellSize must be >= radius for 3x3 probe")
    val spark = points.sparkSession
    import spark.implicits._
    val byCell: Map[Long, Array[Site]] = sites
      .groupBy(s => grid.cellOf(s.x, s.y))
      .map { case (c, ss) => (c, ss.sortBy(_.site_id).toArray) }
    val bc = spark.sparkContext.broadcast(byCell)
    val r2 = radius * radius
    points
      .mapPartitions { it =>
        val idx = bc.value
        it.flatMap { p =>
          grid.neighborhood(p.x, p.y).iterator
            .flatMap(c => idx.getOrElse(c, Array.empty[Site]).iterator)
            .filter { s =>
              val dx = p.x - s.x; val dy = p.y - s.y
              dx * dx + dy * dy <= r2
            }
            .map(s => (p.id, s.site_id))
        }
      }
      .toDF("id", "site_id")
  }
}
