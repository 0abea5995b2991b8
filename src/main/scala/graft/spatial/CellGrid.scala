package graft.spatial

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.geom.Geom

/** Flat-grid spatial cell index (H3-res-9 / S2-L13 analog on a planar CRS).
  *
  * Cell id is pure integer column math — floor-divide both axes by the cell
  * size and pack into one long — so cell derivation stays inside Catalyst
  * whole-stage codegen (no UDF), per the north-star "UDF-free cell encoding".
  * Replaces the reference's QgsSpatialIndex R-tree candidate lookup
  * (catatom2osm/geo/layer/base.py:331-336): an equi-join on cell id yields the
  * same candidate set as an R-tree bbox probe with cellSize resolution.
  *
  * The packing uses an offset so negative coordinates work, and a row width
  * large enough that distinct (cx, cy) never collide.
  */
/** Z-order (Morton) hierarchical cell encoding — the S2-level-13 analog on
  * a planar grid (public interleave construction; S2/H3 ids are the same
  * idea on the sphere). The key property: `morton(ix, iy) >> 2` IS
  * `morton(ix >> 1, iy >> 1)`, so the parent cell at any coarser level is
  * one integer shift — tile rollups/compaction need no re-encoding join.
  * Pure column math (shift/and/or), fully inside whole-stage codegen, and
  * bit-reproducible in ANSI SQL for the oracle. */
object Morton {

  /** Spread the low 32 bits of v so they occupy even bit positions. */
  def spreadCol(v: Column): Column = {
    var x = v.bitwiseAND(lit(0xFFFFFFFFL))
    x = (x.bitwiseOR(shiftleft(x, 16))).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    x = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    x = (x.bitwiseOR(shiftleft(x, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    x = (x.bitwiseOR(shiftleft(x, 2))).bitwiseAND(lit(0x3333333333333333L))
    x = (x.bitwiseOR(shiftleft(x, 1))).bitwiseAND(lit(0x5555555555555555L))
    x
  }

  /** Interleaved 64-bit Morton key of two 32-bit axis indices. */
  def mortonCol(ix: Column, iy: Column): Column =
    spreadCol(ix).bitwiseOR(shiftleft(spreadCol(iy), 1))

  /** Scala mirror — MUST stay arithmetically identical to mortonCol. */
  def spread(v0: Long): Long = {
    var x = v0 & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }
  def morton(ix: Long, iy: Long): Long = spread(ix) | (spread(iy) << 1)

  /** ANSI SQL fragment computing [[spreadCol]] of expression `v` —
    * identical constants/shifts, so DuckDB replays the bits exactly.
    *
    * ORACLE AXIS LIMIT: <= 30-bit axis indices only. Spark's shiftleft
    * wraps, but DuckDB's `<<` on BIGINT is overflow-checked: an axis using
    * bit 31 spreads to bit 62, and the interleave's final `<< 1` for the
    * y-axis would set bit 63 and error on the oracle side ([[mortonSql]]).
    * 30 bits per axis = 2^30 cells/axis at any practical resolution; the
    * engine-side [[mortonCol]]/[[morton]] remain full 32-bit. */
  def spreadSql(v: String): String = {
    def step(e: String, sh: Int, mask: Long) = s"((($e) | (($e) << $sh)) & $mask)"
    var e = s"(($v) & ${0xFFFFFFFFL})"
    e = step(e, 16, 0x0000FFFF0000FFFFL)
    e = step(e, 8, 0x00FF00FF00FF00FFL)
    e = step(e, 4, 0x0F0F0F0F0F0F0F0FL)
    e = step(e, 2, 0x3333333333333333L)
    e = step(e, 1, 0x5555555555555555L)
    e
  }
  /** ANSI replay of [[mortonCol]]. See the <=30-bit axis limit above —
    * callers must keep oracle-gated axis indices below 2^30 (q_cell_rollup
    * feeds 14-bit residues). */
  def mortonSql(ix: String, iy: String): String =
    s"(${spreadSql(ix)} | (${spreadSql(iy)} << 1))"
}

final case class CellGrid(cellSize: Double, origin: Double = -1e7, rowWidth: Long = 1L << 31) {

  /** Catalyst expression: cell id of a point column pair. */
  def cellCol(x: Column, y: Column): Column = {
    val cx = floor((x - lit(origin)) / lit(cellSize)).cast("long")
    val cy = floor((y - lit(origin)) / lit(cellSize)).cast("long")
    cy * lit(rowWidth) + cx
  }

  /** Scala mirror of cellCol — MUST stay arithmetically identical. */
  def cellOf(x: Double, y: Double): Long = {
    val cx = math.floor((x - origin) / cellSize).toLong
    val cy = math.floor((y - origin) / cellSize).toLong
    cy * rowWidth + cx
  }

  def cellX(x: Double): Long = math.floor((x - origin) / cellSize).toLong
  def cellY(y: Double): Long = math.floor((y - origin) / cellSize).toLong
  def pack(cx: Long, cy: Long): Long = cy * rowWidth + cx

  /** The square of a packed cell id as an open CCW ring (inverse of pack
    * via floor arithmetic, so negative axis indices round-trip too). */
  def cellSquare(c: Long): Array[graft.geom.Pt] = {
    val cy = java.lang.Math.floorDiv(c, rowWidth)
    val cx = c - cy * rowWidth
    val x0 = origin + cx * cellSize; val y0 = origin + cy * cellSize
    Array(graft.geom.Pt(x0, y0), graft.geom.Pt(x0 + cellSize, y0),
      graft.geom.Pt(x0 + cellSize, y0 + cellSize), graft.geom.Pt(x0, y0 + cellSize))
  }

  /** The axis-aligned box of the cell with axis indices (cx, cy). */
  def cellBox(cx: Long, cy: Long): Geom.BBox = {
    val x0 = origin + cx * cellSize; val y0 = origin + cy * cellSize
    Geom.BBox(x0, y0, x0 + cellSize, y0 + cellSize)
  }

  /** All cells covered by a bbox (the covering-cell enumeration the polygon
    * side flatMaps into before the cell equi-join). */
  def cover(b: Geom.BBox): Seq[Long] = {
    val x0 = cellX(b.xmin); val x1 = cellX(b.xmax)
    val y0 = cellY(b.ymin); val y1 = cellY(b.ymax)
    for (cy <- y0 to y1; cx <- x0 to x1) yield pack(cx, cy)
  }

  /** x-range of segment a→b within the horizontal slab [yLo, yHi]. */
  private def segXRange(
      a: graft.geom.Pt, b: graft.geom.Pt, yLo: Double, yHi: Double): (Double, Double) =
    if (a.y == b.y) (math.min(a.x, b.x), math.max(a.x, b.x))
    else {
      val t0 = math.min(1.0, math.max(0.0, (yLo - a.y) / (b.y - a.y)))
      val t1 = math.min(1.0, math.max(0.0, (yHi - a.y) / (b.y - a.y)))
      val xA = a.x + t0 * (b.x - a.x)
      val xB = a.x + t1 * (b.x - a.x)
      (math.min(xA, xB), math.max(xA, xB))
    }

  /** Cells covered by a multipolygon: the bbox cover PRUNED to cells whose
    * square actually intersects the polygon, so a diagonal or concave zone
    * no longer inflates the explode side by its bbox/area ratio.
    *
    * Two passes, no geometry predicates beyond PIP:
    *  1. boundary supercover — every ring segment is walked row-slab by
    *     row-slab (its exact x-range within each grid row), marking the
    *     cells it passes through; O(Σ per-edge touched cells), NOT the
    *     edge-bbox (whose diagonal-edge cover is a whole quadrant);
    *  2. interior fill — within a row, a maximal run of UNMARKED cells has
    *     uniform inside/outside status (a boundary point between two
    *     adjacent unmarked cells would have marked one of them), so ONE
    *     center PIP per run classifies the whole run.
    *
    * False positives (touch-only cells) survive to the exact refinement;
    * false negatives are impossible: a cell intersecting the polygon either
    * contains boundary (pass 1 marks it) or lies fully inside (its run's
    * center probe is inside). */
  def coverPolygon(mp: Geom.MultiPolygon): Seq[Long] =
    coverPolygonCells(mp).map { case (cx, cy) => pack(cx, cy) }

  /** [[coverPolygon]]'s cells, in the same order, as axis indices (cx, cy):
    * unlike a packed id, they name the cell even outside 0 ≤ cx < rowWidth. */
  def coverPolygonCells(mp: Geom.MultiPolygon): Seq[(Long, Long)] = {
    val bb = Geom.bbox(mp)
    val x0 = cellX(bb.xmin); val x1 = cellX(bb.xmax)
    val y0 = cellY(bb.ymin); val y1 = cellY(bb.ymax)
    val marked = scala.collection.mutable.HashSet[Long]()
    for (poly <- mp; ring <- poly) {
      val n = ring.length
      var i = 0
      while (i < n) {
        val a = ring(i); val b = ring((i + 1) % n)
        val gy0 = cellY(math.min(a.y, b.y)); val gy1 = cellY(math.max(a.y, b.y))
        var gy = gy0
        while (gy <= gy1) {
          val slabLo = origin + gy * cellSize
          val (xlo, xhi) = segXRange(a, b, slabLo, slabLo + cellSize)
          var gx = cellX(xlo); val gxe = cellX(xhi)
          while (gx <= gxe) { marked += pack(gx, gy); gx += 1 }
          gy += 1
        }
        i += 1
      }
    }
    val out = Seq.newBuilder[(Long, Long)]
    var cy = y0
    while (cy <= y1) {
      var cx = x0
      while (cx <= x1) {
        if (marked.contains(pack(cx, cy))) { out += ((cx, cy)); cx += 1 }
        else {
          var runEnd = cx
          while (runEnd + 1 <= x1 && !marked.contains(pack(runEnd + 1, cy))) runEnd += 1
          val center = graft.geom.Pt(
            origin + (cx + 0.5) * cellSize, origin + (cy + 0.5) * cellSize)
          if (Geom.pointInMultiPolygon(center, mp))
            for (g <- cx to runEnd) out += ((g, cy))
          cx = runEnd + 1
        }
      }
      cy += 1
    }
    out.result()
  }

  /** The 3×3 neighborhood of a point's cell (radius-probe candidates). */
  def neighborhood(x: Double, y: Double): Seq[Long] = {
    val cx = cellX(x); val cy = cellY(y)
    for (dy <- -1L to 1L; dx <- -1L to 1L) yield pack(cx + dx, cy + dy)
  }

  /** Ring of cells at Chebyshev distance k from (cx, cy); k=0 is the cell. */
  def ringCells(cx: Long, cy: Long, k: Long): Seq[(Long, Long)] =
    if (k == 0) Seq((cx, cy))
    else {
      val top    = for (dx <- -k to k) yield (cx + dx, cy + k)
      val bottom = for (dx <- -k to k) yield (cx + dx, cy - k)
      val left   = for (dy <- -k + 1 to k - 1) yield (cx - k, cy + dy)
      val right  = for (dy <- -k + 1 to k - 1) yield (cx + k, cy + dy)
      top ++ bottom ++ left ++ right
    }
}
