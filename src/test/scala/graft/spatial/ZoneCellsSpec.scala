package graft.spatial

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.functions.PointInPolygonExpr
import graft.geom.{Geom, Pt}

/** The clipped zone side ([[SpatialJoin.zoneCells]]: interior cells without
  * edges, boundary cells with clipped edges) against the full-edge zone side
  * it replaced and against brute-force `Geom.pointInMultiPolygon`, on points
  * placed where rounding decides: cell edges and corners, zone vertices,
  * shared borders, and within 1e-12 of a border. */
class ZoneCellsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ring(pts: (Double, Double)*): Array[Pt] = pts.map { case (x, y) => Pt(x, y) }.toArray
  private def zone(id: Long, polys: Array[Array[Pt]]*): Zone =
    Zone(id, s"z$id", "admin", polys.toArray)

  /** Adversarial zones, all partly at negative coordinates: a square with a
    * hole, a two-part multipolygon, two zones sharing a wiggly border and a
    * straight border with the holed square, and a non-convex star with
    * irrational vertices. */
  val zones: Seq[Zone] = {
    val holed = zone(1,
      Array(ring((-20, -20), (0, -20), (0, 0), (-20, 0)),
        ring((-15, -15), (-15, -5), (-5, -5), (-5, -15))))
    val twoPart = zone(2,
      Array(ring((1, 1), (9, 1), (1, 9))),
      Array(ring((12, 12), (19, 12), (19, 19), (12, 19))))
    val ys = (0 to 54).map(k => -20.0 + k * 20.0 / 54)
    val border = ys.map(y => (5 + 1.3 * math.sin(y), y))
    val left = zone(3, Array(ring(((0.0, 0.0) +: border.reverse :+ (0.0, -20.0)): _*)))
    val right = zone(4, Array(ring((border :+ (20.0, 0.0) :+ (20.0, -20.0)).reverse: _*)))
    val star = zone(5, Array((0 until 14).map { k =>
      val r = if (k % 2 == 0) 8.0 else 3.1
      val t = k * math.Pi / 7
      Pt(-10 + r * math.cos(t), 10 + r * math.sin(t))
    }.toArray))
    Seq(holed, twoPart, left, right, star)
  }

  /** The last grid's row width is small enough that the packed ids of the
    * holed square's leftmost cells collide with cells of the zone right of
    * the wiggly border; the second is the benchmark's grid. Zones reach
    * left of every grid's origin except the first, so cx < 0 throughout. */
  val grids = Seq(
    CellGrid(2.0), // default origin -1e7
    CellGrid(2.5, origin = -1.25, rowWidth = 1L << 20),
    CellGrid(0.7, origin = -3.3, rowWidth = 1L << 20),
    CellGrid(1.0, origin = -18.0, rowWidth = 32L))

  val hexSizes = Seq(1.7, 2.5)

  /** Points whose cell id equals that of row `r`'s cell, one row width to
    * the right (one row down) and to the left (one row up) of its centre. */
  def gridAliases(grid: CellGrid, r: SpatialJoin.ZoneCell): Seq[(Double, Double)] = {
    val (mx, my) = ((r.box_xmin + r.box_xmax) / 2, (r.box_ymin + r.box_ymax) / 2)
    val w = grid.rowWidth * grid.cellSize
    Seq((mx + w, my - grid.cellSize), (mx - w, my + grid.cellSize))
  }

  /** The centre of hex (q - 1, r + 2^21), whose id equals that of hex (q, r). */
  def hexAlias(size: Double, c: Long): (Double, Double) = {
    val (q, r) = HexGrid.axialOf(c)
    val k = HexGrid.Consts(size)
    val (qa, ra) = (q - 1, r + HexGrid.Stride)
    (qa * k.cxq + ra * k.cxr, ra * k.cyr)
  }

  /** Cell corners and edge midpoints of every covered cell, every zone
    * vertex and edge midpoint, each also nudged by ±1e-12 on both axes,
    * seeded uniform points, points whose cell id aliases a covered cell,
    * and NaN and infinite coordinates. */
  def points(grid: CellGrid): Seq[(Double, Double)] = {
    val cellPts = zones.flatMap(z => grid.coverPolygonCells(z.geometry)).distinct.flatMap {
      case (cx, cy) =>
        val b = grid.cellBox(cx, cy)
        val mx = (b.xmin + b.xmax) / 2; val my = (b.ymin + b.ymax) / 2
        Seq((b.xmin, b.ymin), (b.xmax, b.ymin), (b.xmin, b.ymax), (b.xmax, b.ymax),
          (mx, b.ymin), (b.xmin, my), (mx, my))
    }
    val vertexPts = zones.flatMap(SpatialJoin.zoneEdges).flatMap { e =>
      Seq((e.ax, e.ay), ((e.ax + e.bx) / 2, (e.ay + e.by) / 2))
    }
    val nudged = vertexPts.flatMap { case (x, y) =>
      for (dx <- Seq(-1e-12, 0.0, 1e-12); dy <- Seq(-1e-12, 0.0, 1e-12)) yield (x + dx, y + dy)
    }
    val rnd = new scala.util.Random(42)
    val uniform = Seq.fill(4000)((rnd.nextDouble() * 44 - 22, rnd.nextDouble() * 44 - 22))
    val aliases = SpatialJoin.zoneCells(zones, grid).flatMap(gridAliases(grid, _)) ++
      hexSizes.flatMap(s => SpatialJoin.hexZoneCells(zones, s).map(r => hexAlias(s, r.cell)))
    val inf = Double.PositiveInfinity
    val odd = Seq((Double.NaN, -16.5), (-17.5, Double.NaN), (Double.NaN, Double.NaN),
      (inf, -16.5), (-inf, -16.5), (-17.5, inf), (-17.5, -inf))
    (cellPts ++ nudged ++ uniform ++ aliases ++ odd).distinct
  }

  def pointsDf(grid: CellGrid): DataFrame = {
    import spark.implicits._
    points(grid).zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }.toDF("id", "x", "y")
  }

  /** The join as it was before [[SpatialJoin.ZoneCell]]: every covering
    * (cell, zone) row carries all of the zone's edges, refined by PIP alone. */
  def fullEdgeJoin(pts: DataFrame, side: Seq[SpatialJoin.ZoneCellEdges], cell: org.apache.spark.sql.Column): Set[(Long, Long)] = {
    import spark.implicits._
    pts.withColumn("cell", cell)
      .join(broadcast(spark.createDataset(side).toDF()), "cell")
      .where(PointInPolygonExpr.pointInPolygon(col("x"), col("y"), col("edges")))
      .select("id", "zone_id").as[(Long, Long)].collect().toSet
  }

  /** Even-odd parity over all of a zone's edges, the rule
    * `point_in_polygon` computes. */
  def parity(x: Double, y: Double, edges: Array[SpatialJoin.Edge]): Boolean =
    edges.count { e =>
      (e.ay > y) != (e.by > y) && x < (e.bx - e.ax) * (y - e.ay) / (e.by - e.ay) + e.ax
    } % 2 == 1

  /** Every (point, zone) pair the predicate accepts, over all zones and no
    * candidate cells. */
  def bruteForce(pts: DataFrame, inside: (Double, Double, Zone) => Boolean): Set[(Long, Long)] = {
    import spark.implicits._
    pts.as[(Long, Double, Double)].collect().toSeq.flatMap { case (id, x, y) =>
      zones.filter(z => inside(x, y, z)).map(z => (id, z.zone_id))
    }.toSet
  }

  /** Brute force by the join's own even-odd rule must match on every
    * point; brute force by `Geom.pointInMultiPolygon` on every point off
    * the zone boundaries. On a ring edge the two kernels can disagree:
    * `Geom.pointInRing` walks each edge b→a and `point_in_polygon` a→b, so
    * the crossing abscissa of a point on the edge rounds differently (seen
    * here at vertices and midpoints of the shared wiggly border). */
  def assertBruteForce(pts: DataFrame, joined: Set[(Long, Long)], what: String): Unit = {
    import spark.implicits._
    val edges = zones.map(z => z.zone_id -> SpatialJoin.zoneEdges(z)).toMap
    assertSame(pts, joined, bruteForce(pts, (x, y, z) => parity(x, y, edges(z.zone_id))),
      s"$what vs even-odd brute force")
    val geom = bruteForce(pts, (x, y, z) => Geom.pointInMultiPolygon(Pt(x, y), z.geometry))
    val all = edges.values.flatten.toSeq
    val onBoundary = pts.as[(Long, Double, Double)].collect().collect {
      case (id, x, y) if all.exists(e =>
        Geom.sqrDistToSegment(Pt(x, y), Pt(e.ax, e.ay), Pt(e.bx, e.by))._1 < 1e-18) => id
    }.toSet
    assert(pts.count() - onBoundary.size > 4000, s"$what: too few points off the boundary")
    assertSame(pts, joined.filterNot(r => onBoundary(r._1)), geom.filterNot(r => onBoundary(r._1)),
      s"$what vs Geom brute force off the boundary")
  }

  /** Set equality with the differing points' coordinates in the message. */
  def assertSame(pts: DataFrame, a: Set[(Long, Long)], b: Set[(Long, Long)], what: String): Unit = {
    import spark.implicits._
    val diff = (a diff b).map(("+", _)) ++ (b diff a).map(("-", _))
    lazy val xy = pts.as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(diff.isEmpty, s"$what: ${diff.size} rows differ, e.g. " +
      diff.take(8).map { case (s, (id, z)) => s"$s zone $z at ${xy(id)}" }.mkString("; "))
  }

  test("grid join: clipped zone side == full-edge zone side == brute-force PIP") {
    import spark.implicits._
    for (grid <- grids) {
      val pts = pointsDf(grid).cache()
      val old = fullEdgeJoin(pts, zones.flatMap(z => grid.coverPolygon(z.geometry)
        .map(c => SpatialJoin.ZoneCellEdges(c, z.zone_id, SpatialJoin.zoneEdges(z)))),
        grid.cellCol(col("x"), col("y")))
      val got = SpatialJoin.pipJoinCodegen(pts, "id", "x", "y", zones, grid)
        .as[(Long, Long)].collect()
      assert(got.length === got.toSet.size, s"duplicate rows on $grid")
      assertSame(pts, got.toSet, old, s"clipped join vs full-edge join on $grid")
      assertBruteForce(pts, old, s"full-edge join on $grid")
      assert(got.map(_._2).toSet === zones.map(_.zone_id).toSet)
      pts.unpersist()
    }
  }

  test("hex join: clipped zone side == full-edge zone side == brute-force PIP") {
    import spark.implicits._
    for (size <- hexSizes) {
      val pts = pointsDf(grids(1)).cache()
      val old = fullEdgeJoin(pts, zones.flatMap(z => HexGrid.coverPolygon(z.geometry, size)
        .map(c => SpatialJoin.ZoneCellEdges(c, z.zone_id, SpatialJoin.zoneEdges(z)))),
        HexGrid.cellCol(col("x"), col("y"), size))
      val got = SpatialJoin.pipJoinHex(pts, "id", "x", "y", zones, size)
        .as[(Long, Long)].collect()
      assert(got.length === got.toSet.size, s"duplicate rows at size $size")
      assertSame(pts, got.toSet, old, s"clipped hex join vs full-edge join at size $size")
      assertBruteForce(pts, old, s"full-edge hex join at size $size")
      pts.unpersist()
    }
  }

  test("points whose cell id aliases an interior or a boundary cell join as brute force says") {
    import spark.implicits._
    val edges = zones.map(z => z.zone_id -> SpatialJoin.zoneEdges(z)).toMap
    def check(pts: Seq[(Double, Double)], what: String)(join: DataFrame => DataFrame): Unit = {
      val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }.toDF("id", "x", "y")
      assertSame(df, join(df).as[(Long, Long)].collect().toSet,
        bruteForce(df, (x, y, z) => parity(x, y, edges(z.zone_id))), what)
    }
    for (grid <- grids) {
      val rows = SpatialJoin.zoneCells(zones, grid)
      for (target <- Seq(rows.find(_.interior), rows.find(!_.interior))) {
        val r = target.getOrElse(fail(s"no such cell on $grid"))
        val pts = gridAliases(grid, r)
        assert(pts.forall { case (x, y) => grid.cellOf(x, y) == r.cell })
        check(pts, s"aliases of cell ${r.cell} (interior = ${r.interior}) on $grid")(
          SpatialJoin.pipJoinCodegen(_, "id", "x", "y", zones, grid))
      }
    }
    for (size <- hexSizes) {
      val hex = SpatialJoin.hexZoneCells(zones, size)
      for (target <- Seq(hex.find(_.interior), hex.find(!_.interior))) {
        val r = target.getOrElse(fail(s"no such hex at size $size"))
        val p = hexAlias(size, r.cell)
        assert(HexGrid.cellOf(p._1, p._2, size) === r.cell)
        check(Seq(p), s"alias of hex ${r.cell} (interior = ${r.interior})")(
          SpatialJoin.pipJoinHex(_, "id", "x", "y", zones, size))
      }
    }
  }

  test("hex zones beyond the hex reach are refused") {
    val far = HexGrid.reach(1.7)
    val remote = zones.head.copy(geometry = zones.head.geometry.map(_.map(_.map(p => Pt(p.x, p.y + far)))))
    val h = intercept[IllegalArgumentException](SpatialJoin.hexZoneCells(Seq(remote), 1.7))
    assert(h.getMessage.contains("hex reach"))
  }

  test("builder invariants: interior rows carry no edges, boundary edges are the zone's, cover unchanged") {
    def check(rows: Seq[SpatialJoin.ZoneCell], z: Zone, cover: Seq[Long], what: String): Unit = {
      val all = SpatialJoin.zoneEdges(z).toSet
      assert(rows.map(_.cell) === cover, s"zone ${z.zone_id} on $what")
      assert(rows.forall(_.zone_id == z.zone_id))
      for (r <- rows) {
        if (r.interior) assert(r.edges.isEmpty, s"interior cell ${r.cell} carries edges")
        else assert(r.edges.forall(all.contains), s"cell ${r.cell} carries a foreign edge")
      }
    }
    for (grid <- grids; z <- zones)
      check(SpatialJoin.zoneCells(Seq(z), grid), z, grid.coverPolygon(z.geometry), grid.toString)
    for (size <- hexSizes; z <- zones)
      check(SpatialJoin.hexZoneCells(Seq(z), size), z, HexGrid.coverPolygon(z.geometry, size), s"hex $size")
    // the holed square is wide enough for interior cells on every grid and
    // hex size, and no boundary cell of the wiggly zone needs all of its edges
    for (grid <- grids) {
      assert(SpatialJoin.zoneCells(Seq(zones.head), grid).exists(_.interior), s"no interior cell on $grid")
      val wiggly = SpatialJoin.zoneCells(Seq(zones(2)), grid)
      assert(wiggly.forall(_.edges.length < SpatialJoin.zoneEdges(zones(2)).length))
    }
    for (size <- hexSizes)
      assert(SpatialJoin.hexZoneCells(Seq(zones.head), size).exists(_.interior), s"no interior hex at $size")
  }

  test("interior cells hold only points inside the zone, by the edge-parity rule") {
    // every sample point of an interior row's box (the cell's box dilated
    // by τ/2) — corners included — is inside by the same even-odd parity
    // point_in_polygon computes over all edges; a hex's box contains the hex
    val rows = grids.flatMap(SpatialJoin.zoneCells(zones, _)) ++
      hexSizes.flatMap(SpatialJoin.hexZoneCells(zones, _))
    for (r <- rows if r.interior) {
      val edges = SpatialJoin.zoneEdges(zones.find(_.zone_id == r.zone_id).get)
      for (fx <- Seq(0.0, 0.25, 0.5, 1.0); fy <- Seq(0.0, 0.5, 0.75, 1.0)) {
        val x = r.box_xmin + fx * (r.box_xmax - r.box_xmin)
        val y = r.box_ymin + fy * (r.box_ymax - r.box_ymin)
        assert(parity(x, y, edges), s"($x, $y) in interior cell ${r.cell} of zone ${r.zone_id}")
      }
    }
  }
}
