package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.{Geom, Pt}
import graft.spatial.{CellGrid, HexGrid, SpatialJoin, Zone}

/** Seeded inputs shared by the spatial workloads: a splitmix64 stream keyed
  * by (seed, id), so a row's value never depends on partitioning. */
object Gen {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform double in [0, 1) for stream `k` of row `id`. */
  def u(seed: Long, id: Long, k: Int): Double =
    (mix(mix(seed * 0x632BE59BD9B4E019L + id) + k) >>> 11) * (1.0 / (1L << 53))
  /** Standard normal (Box-Muller) for stream pair (k, k+1). */
  def gauss(seed: Long, id: Long, k: Int): Double =
    math.sqrt(-2 * math.log(1 - u(seed, id, k))) * math.cos(2 * math.Pi * u(seed, id, k + 1))
}

/** Admin-boundary-like zones: a gx × gy tiling whose shared borders are
  * seeded smooth wiggles, so zones are non-convex with `4 * m` vertices and
  * tile the domain exactly (neighbours share their border vertices). */
object Zones {
  val Cell = 10.0

  def build(seed: Long, gx: Int, gy: Int, m: Int): Seq[Zone] = {
    val amp = 0.1 * Cell
    // border curve coefficients: vertical curve i is x = i*Cell + amp*f_i(y),
    // horizontal curve j is y = j*Cell + amp*g_j(x); the outer frame is
    // straight so the tiling covers [0, gx*Cell] x [0, gy*Cell] exactly
    def coef(kind: Int, i: Int): (Double, Double) =
      (2 * math.Pi * Gen.u(seed, kind * 100003L + i, 0), 2 * math.Pi * Gen.u(seed, kind * 100003L + i, 1))
    def wig(c: (Double, Double), t: Double): Double =
      0.6 * math.sin(2 * math.Pi * t / Cell + c._1) + 0.4 * math.sin(4 * math.Pi * t / Cell + c._2)
    def vx(i: Int, y: Double): Double = i * Cell + (if (i == 0 || i == gx) 0.0 else amp * wig(coef(1, i), y))
    def hy(j: Int, x: Double): Double = j * Cell + (if (j == 0 || j == gy) 0.0 else amp * wig(coef(2, j), x))
    // corner = unique crossing of vertical i and horizontal j (contraction:
    // amp*|f'| * amp*|g'| < 0.8)
    val corner = Array.tabulate(gx + 1, gy + 1) { (i, j) =>
      var x = i * Cell; var y = j * Cell
      for (_ <- 0 until 200) { y = hy(j, x); x = vx(i, y) }
      Pt(x, y)
    }
    // border polylines, computed once so both neighbours share the vertices
    val vseg = Array.tabulate(gx + 1, gy) { (i, j) =>
      val (a, b) = (corner(i)(j), corner(i)(j + 1))
      a +: (1 until m).map { k => val y = a.y + (b.y - a.y) * k / m; Pt(vx(i, y), y) } :+ b
    }
    val hseg = Array.tabulate(gx, gy + 1) { (i, j) =>
      val (a, b) = (corner(i)(j), corner(i + 1)(j))
      a +: (1 until m).map { k => val x = a.x + (b.x - a.x) * k / m; Pt(x, hy(j, x)) } :+ b
    }
    for (j <- 0 until gy; i <- 0 until gx) yield {
      val ring = hseg(i)(j).init ++ vseg(i + 1)(j).init ++
        hseg(i)(j + 1).reverse.init ++ vseg(i)(j).reverse.init
      Zone(j.toLong * gx + i, s"z$i-$j", "admin", Array(Array(ring.toArray)))
    }
  }
}

/** geotag_join: the flagship PIP join over non-convex zones, then hex tile
  * assignment, with per-zone and per-tile rollups. Read-only and
  * compute-bound in spatial/functions/geom; components, checkpoints and
  * dedup never run, so it is the no-change control for them. */
final class GeotagJoin extends Workload {
  val name = "geotag_join"
  val warmups = 2
  val Gx = 20
  val Gy = 20
  val VertsPerSide = 50
  val N = 1000000L
  val HotShare = 0.25
  /** Cells centred on the zone borders' mean lines: every wiggling border
    * (|offset| ≤ 1 < 1.25) stays inside one row or column of cells, so the
    * candidate work per point is the same for every seed. */
  val Grid = CellGrid(2.5, origin = -1.25, rowWidth = 1L << 20)
  val TileSize = 3.0
  val SampleSize = 2000
  def inputRows: Long = N

  private var zones: Seq[Zone] = Nil
  private var seed = 0L
  /** Per-zone counts of the first verified call; later calls must repeat them. */
  private var verified: Option[Map[Long, Long]] = None

  /** (id, x, y) with HotShare of the points in four tight hotspots. A
    * hotspot sits at the centre of a seeded zone, clear of its wiggling
    * border, so every seed puts the same work (one PIP candidate per hot
    * point) into the hot cells. */
  def points(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    val w = Gx * Zones.Cell; val h = Gy * Zones.Cell
    val hot = (0 until 4).map { k =>
      val z = math.floorMod(Gen.mix(seed * 17 + k), (Gx * Gy).toLong)
      ((z % Gx + 0.5) * Zones.Cell, (z / Gx + 0.5) * Zones.Cell)
    }
    val s = seed; val share = HotShare
    spark.range(0, n, 1, Runtime.getRuntime.availableProcessors * 2).as[Long].map { id =>
      if (Gen.u(s, id, 0) < share) {
        val (cx, cy) = hot((Gen.mix(s + id) & 3).toInt)
        val x = math.min(w - 1e-6, math.max(1e-6, cx + 0.3 * Gen.gauss(s, id, 1)))
        val y = math.min(h - 1e-6, math.max(1e-6, cy + 0.3 * Gen.gauss(s, id, 3)))
        (id, x, y)
      } else (id, w * Gen.u(s, id, 1), h * Gen.u(s, id, 2))
    }.toDF("id", "x", "y")
  }

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    this.seed = seed
    this.dir = dir
    verified = None
    zones = Zones.build(seed, Gx, Gy, VertsPerSide)
    points(spark, seed, N).write.parquet(s"$dir/points.parquet")
  }

  override def inputHash(spark: SparkSession): Long =
    super.inputHash(spark) + zones.iterator.flatMap(z => z.geometry.iterator.flatMap(_.iterator.flatMap(_.iterator))).map(_.hashCode.toLong).sum

  /** Brute-force zone of one point, by exact PIP over every zone. */
  def bruteZone(p: Pt): Seq[Long] =
    zones.filter(z => Geom.pointInMultiPolygon(p, z.geometry)).map(_.zone_id)

  def iteration(spark: SparkSession, t: Trace, work: String): Iter = {
    val pts = spark.read.parquet(s"$dir/points.parquet")
    val t0 = System.nanoTime()
    val (zoneCounts, tileCounts) = t.span("bench", "join") {
      val zc = t.span("spatial.SpatialJoin", "pipJoinCodegen") {
        SpatialJoin.pipJoinCodegen(pts, "id", "x", "y", zones, Grid)
          .groupBy("zone_id").agg(count(lit(1)).as("n")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val tc = t.span("spatial.HexGrid", "cellCol") {
        pts.groupBy(HexGrid.cellCol(col("x"), col("y"), TileSize).as("tile"))
          .agg(count(lit(1)).as("n")).collect().map(_.getLong(1))
      }
      (zc, tc)
    }
    val mainS = (System.nanoTime() - t0) / 1e9
    Iter(mainS, None, check(spark, pts, zoneCounts, tileCounts.sum))
  }

  /** Every point in exactly one zone and one tile. The first call's join
    * must agree with brute-force PIP on a seeded sample, point by point;
    * every later call must repeat the first call's per-zone counts. */
  def check(spark: SparkSession, pts: DataFrame, zoneCounts: Map[Long, Long],
      tileTotal: Long): Option[String] = {
    val zoneTotal = zoneCounts.values.sum
    if (zoneTotal != N) return Some(s"zone rollup holds $zoneTotal of $N points")
    if (tileTotal != N) return Some(s"tile rollup holds $tileTotal of $N points")
    verified match {
      case Some(first) =>
        return if (first == zoneCounts) None else Some("per-zone counts differ between calls")
      case None =>
    }
    val sampleIds = (0 until SampleSize).map(k => math.floorMod(Gen.mix(seed * 31 + k), N))
    val sample = pts.where(col("id").isin(sampleIds: _*)).cache()
    val got = SpatialJoin.pipJoinCodegen(sample, "id", "x", "y", zones, Grid).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = sample.collect().flatMap { r =>
      bruteZone(Pt(r.getDouble(1), r.getDouble(2))).map(z => (r.getLong(0), z))
    }.toSet
    sample.unpersist()
    val err = checkSample(got, want, zoneCounts)
    if (err.isEmpty) verified = Some(zoneCounts)
    err
  }

  /** Sample agreement plus per-zone consistency of the sample with the rollup. */
  def checkSample(got: Set[(Long, Long)], want: Set[(Long, Long)],
      zoneCounts: Map[Long, Long]): Option[String] =
    if (got != want) Some(s"join differs from brute-force PIP on ${(got diff want).size + (want diff got).size} sampled points")
    else {
      val perZone = want.groupBy(_._2).map { case (z, s) => z -> s.map(_._1).size }
      perZone.collectFirst { case (z, n) if zoneCounts.getOrElse(z, 0L) < n =>
        s"zone $z holds fewer points than its sampled members"
      }
    }

  override def probes(spark: SparkSession): Map[String, Double] = {
    val pts = spark.read.parquet(s"$dir/points.parquet")
    // cell-join candidates: every (point, zone) pair whose covering cells meet
    val cover = spark.createDataFrame(zones.flatMap(z => Grid.coverPolygon(z.geometry).map(c => (c, 1L))))
      .toDF("cell", "one").groupBy("cell").agg(sum("one").as("k"))
    val cand = pts.withColumn("cell", Grid.cellCol(col("x"), col("y")))
      .join(broadcast(cover), "cell").agg(sum("k")).head().getLong(0)
    val matched = SpatialJoin.pipJoinCodegen(pts, "id", "x", "y", zones, Grid).count()
    Kernels.pip(spark, zones, pts) ++ Map(
      "spatial.SpatialJoin.useful_ratio" -> matched.toDouble / cand)
  }
}

/** Kernel-level probes, timed outside any span. */
object Kernels {

  /** geom.Geom PIP per call over the generated points, and the native
    * PointInPolygonExpr over every point against one zone, with and without
    * generated code. */
  def pip(spark: SparkSession, zones: Seq[Zone], pts: DataFrame): Map[String, Double] = {
    import spark.implicits._
    val sample = pts.limit(200000).as[(Long, Double, Double)].collect()
    val boxes = zones.map(z => (Geom.bbox(z.geometry), z.geometry)).toArray
    def loop(): (Long, Long) = {
      var calls = 0L; var hits = 0L
      val t0 = System.nanoTime()
      for ((_, x, y) <- sample) {
        val p = Pt(x, y)
        var k = 0
        while (k < boxes.length) {
          val b = boxes(k)._1
          if (x >= b.xmin && x <= b.xmax && y >= b.ymin && y <= b.ymax) {
            calls += 1
            if (Geom.pointInMultiPolygon(p, boxes(k)._2)) hits += 1
          }
          k += 1
        }
      }
      if (hits == 0) sys.error("PIP kernel found no containing zone")
      (System.nanoTime() - t0, calls)
    }
    loop() // JIT warm-up
    val (ns, calls) = loop()
    val z = zones(zones.size / 2)
    val edges = spark.createDataset(Seq(SpatialJoin.ZoneCellEdges(0L, z.zone_id, SpatialJoin.zoneEdges(z))))
      .select("edges")
    val n = pts.count()
    def exprRate(): Double = {
      val q = pts.crossJoin(broadcast(edges))
        .where(graft.functions.PointInPolygonExpr.pointInPolygon(col("x"), col("y"), col("edges")))
      q.count() // warm
      val t0 = System.nanoTime()
      q.count()
      n / ((System.nanoTime() - t0) / 1e9)
    }
    val codegen = exprRate()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = try exprRate() finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    Map("geom.Geom.pip_ns" -> ns.toDouble / math.max(1L, calls),
      "functions.PointInPolygonExpr.codegen_rows_per_s" -> codegen,
      "functions.PointInPolygonExpr.interp_rows_per_s" -> interp)
  }
}
