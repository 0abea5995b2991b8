package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.spatial.Dbscan

/** geo_cluster: DBSCAN over two clouds per call, one near-uniform (many
  * small blobs, sparse ε-cells) and one hotspot-skewed (a few blobs with
  * hundreds of points per ε-cell): the two regimes `Dbscan.dbscanDense`
  * dispatches between. Shuffle-heavy and iterative; components run inside.
  *
  * Planted answer: every blob is a jittered lattice with spacing well under
  * ε, so each blob point is core and each blob is one cluster; blobs sit
  * ≥ 3ε apart, and each noise point sits ≥ 2ε from everything else.
  *
  * No warm-up call: a call runs about 140 Spark jobs, so a warm-up call
  * would cost as much as the measured one. The measured call is the first
  * clustering in a fresh session, as a batch DBSCAN job runs. */
final class GeoCluster extends Workload {
  val name = "geo_cluster"
  val warmups = 0
  val Eps = 1.0
  val MinPts = 4
  val CellW = 10.0 // blob cell width, in ε
  // (blob cells per side, lattice side, lattice spacing in ε, noise share)
  val Uniform = Cloud(17, 6, 0.4, 0.5)
  val Hotspot = Cloud(3, 30, 0.02, 0.0)
  final case class Cloud(cells: Int, side: Int, spacing: Double, noiseShare: Double)

  private var rows = 0L
  def inputRows: Long = rows
  /** Per cloud: (contraction volume, plain volume) of the generated points. */
  private var volumes = Map.empty[String, (BigInt, BigInt)]
  /** The plan each cloud must take: the two regimes. */
  val Regime = Map("uniform" -> "plain", "hotspot" -> "contraction")

  /** (id, x, y, blob) rows of one cloud; blob = -1 for noise. The hotspot
    * cloud also carries a sparse uniform background. */
  def cloud(seed: Long, c: Cloud, base: Long, x0: Double): Seq[(Long, Double, Double, Long)] = {
    val out = Seq.newBuilder[(Long, Double, Double, Long)]
    var id = base
    val jitter = 0.12 * c.spacing
    for (bx <- 0 until c.cells; by <- 0 until c.cells) {
      val blob = id
      val ox = x0 + bx * CellW + (CellW - (c.side - 1) * c.spacing) / 2
      val oy = by * CellW + (CellW - (c.side - 1) * c.spacing) / 2
      for (i <- 0 until c.side; j <- 0 until c.side) {
        out += ((id, ox + i * c.spacing + jitter * (2 * Gen.u(seed, id, 0) - 1),
          oy + j * c.spacing + jitter * (2 * Gen.u(seed, id, 1) - 1), blob))
        id += 1
      }
      if (Gen.u(seed, blob, 2) < c.noiseShare) {
        out += ((id, x0 + bx * CellW + 1.0 + 0.2 * Gen.u(seed, id, 0),
          by * CellW + 1.0 + 0.2 * Gen.u(seed, id, 1), -1L))
        id += 1
      }
    }
    out.result()
  }

  def clouds(seed: Long): Seq[(String, Seq[(Long, Double, Double, Long)])] = {
    val u = cloud(seed, Uniform, 0L, 0.0)
    val h0 = cloud(seed, Hotspot, 10000000L, 0.0)
    val h1 = cloud(seed, Uniform.copy(cells = 8), 20000000L, Hotspot.cells * CellW)
    Seq("uniform" -> u, "hotspot" -> (h0 ++ h1))
  }

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    this.dir = dir
    val cs = clouds(seed)
    rows = cs.map(_._2.size.toLong).sum
    volumes = cs.map { case (k, pts) => k -> pairVolumes(pts) }.toMap
    for ((k, pts) <- cs)
      pts.toDF("id", "x", "y", "blob").repartition(Runtime.getRuntime.availableProcessors)
        .write.parquet(s"$dir/$k.parquet")
  }

  /** The plan `Dbscan.dbscanDense` picks for a cloud of this volume pair. */
  def plan(v: (BigInt, BigInt)): String = if (v._2 <= v._1) "plain" else "contraction"

  /** The two candidate-pair volumes `Dbscan.dbscanDense` compares to pick
    * its plan, recomputed from the points as (contraction, plain):
    *  - contraction: every s-cell (side ε/1.5) receives its sparse
    *    neighbours' mass from the Chebyshev-2 window, and a dense cell also
    *    its dense neighbours' mass from the window's forward half;
    *  - plain: every ε-cell receives the mass of the cells whose forward
    *    half-window {0, (0,1), (1,-1), (1,0), (1,1)} reaches it.
    * Each received mass is weighted by the receiving cell's own mass; the
    * plain plan runs when its volume is no larger. */
  def pairVolumes(pts: Seq[(Long, Double, Double, Long)]): (BigInt, BigInt) = {
    def cells(w: Double): Map[(Long, Long), Long] =
      pts.groupBy(p => (math.floor(p._2 / w).toLong, math.floor(p._3 / w).toLong))
        .map { case (c, ps) => c -> ps.size.toLong }
    val sc = cells(Eps / 1.5)
    def dense(c: (Long, Long)) = sc.getOrElse(c, 0L) >= MinPts
    def mass(m: Map[(Long, Long), Long], at: (Long, Long), offs: Seq[(Int, Int)], keep: ((Long, Long)) => Boolean) =
      offs.map { case (dx, dy) => (at._1 - dx, at._2 - dy) }.filter(keep).map(m.getOrElse(_, 0L)).sum
    val cheb2 = for (dx <- -2 to 2; dy <- -2 to 2) yield (dx, dy)
    val fwd12 = cheb2.filter { case (dx, dy) => dx > 0 || (dx == 0 && dy > 0) }
    val contraction = sc.iterator.map { case (c, m) =>
      BigInt(m) * (mass(sc, c, cheb2, x => !dense(x)) + (if (dense(c)) mass(sc, c, fwd12, dense) else 0L))
    }.sum
    val ec = cells(Eps)
    val fwd5 = Seq((0, 0), (0, 1), (1, -1), (1, 0), (1, 1))
    val plainV = ec.iterator.map { case (c, m) => BigInt(m) * mass(ec, c, fwd5, _ => true) }.sum
    (contraction, plainV)
  }

  /** A cloud whose volumes send it to the other plan fails the call. */
  def regimeError(v: Map[String, (BigInt, BigInt)]): Option[String] = Regime.collectFirst {
    case (k, want) if plan(v(k)) != want =>
      s"$k cloud dispatches to the ${plan(v(k))} plan (volumes ${v(k)}), not $want"
  }

  override def describe: String = volumes.toSeq.sortBy(_._1).map { case (k, v) =>
    s"$k=${plan(v)}(contraction ${v._1}, plain ${v._2})"
  }.mkString(" ")

  def iteration(spark: SparkSession, t: Trace, work: String): Iter = {
    val inputs = Seq("uniform", "hotspot").map(k => k -> spark.read.parquet(s"$dir/$k.parquet"))
    val t0 = System.nanoTime()
    val outs = t.span("bench", "cluster") {
      inputs.map { case (k, pts) =>
        t.span("spatial.Dbscan", s"dbscanDense-$k") {
          Dbscan.dbscanDense(pts.select("id", "x", "y"), Eps, MinPts)
            .select("id", "role", "cluster").collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        }
      }
    }
    val mainS = (System.nanoTime() - t0) / 1e9
    val err = inputs.zip(outs).iterator.map { case ((k, pts), out) =>
      val planted = pts.select("id", "blob").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      check(planted, out).map(e => s"$k: $e")
    }.collectFirst { case Some(e) => e }
    Iter(mainS, None, err.orElse(regimeError(volumes)))
  }

  /** Exactly the planted clusters (id = min member id, all core) and noise. */
  def check(planted: Map[Long, Long], out: Seq[(Long, String, Long)]): Option[String] = {
    if (out.size != planted.size) return Some(s"${out.size} output rows for ${planted.size} points")
    val clusterOfBlob = planted.toSeq.filter(_._2 >= 0).groupBy(_._2)
      .map { case (b, ms) => b -> ms.map(_._1).min }
    out.collectFirst {
      case (id, role, cl) if !planted.contains(id) => s"unknown id $id"
      case (id, role, cl) if planted(id) < 0 && (role != "noise" || cl != -1L) =>
        s"noise point $id came back as $role/$cl"
      case (id, role, cl) if planted(id) >= 0 && (role != "core" || cl != clusterOfBlob(planted(id))) =>
        s"point $id of blob ${planted(id)} came back as $role/$cl"
    }
  }

  override def probes(spark: SparkSession): Map[String, Double] = {
    // ε-grid forward half-window candidates vs pairs within ε, both clouds
    val (pairs, cand) = Seq("uniform", "hotspot").map { k =>
      val p = spark.read.parquet(s"$dir/$k.parquet")
        .select(col("id"), col("x"), col("y"),
          floor(col("x") / Eps).cast("long").as("cx"), floor(col("y") / Eps).cast("long").as("cy"))
      val offs = Seq((0L, 0L), (0L, 1L), (1L, -1L), (1L, 0L), (1L, 1L))
      val probe = p.select(col("id").as("ia"), col("x").as("ax"), col("y").as("ay"),
        explode(array(offs.map { case (dx, dy) =>
          struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"), lit(dx == 0 && dy == 0).as("home"))
        }: _*)).as("o"))
        .select(col("ia"), col("ax"), col("ay"), col("o.cx"), col("o.cy"), col("o.home"))
      val joined = probe.join(p, Seq("cx", "cy"))
        .where(!col("home") || col("ia") < col("id"))
      val c = joined.count()
      val e = joined.where((col("ax") - col("x")) * (col("ax") - col("x")) +
        (col("ay") - col("y")) * (col("ay") - col("y")) <= Eps * Eps).count()
      (e, c)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    Map("spatial.Dbscan.useful_ratio" -> pairs.toDouble / math.max(1L, cand))
  }
}
