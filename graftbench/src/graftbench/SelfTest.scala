package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's own tests (`python3 graftbench/run.py --selftest`):
  *  - the same seed gives identical inputs, another seed different ones;
  *  - every correctness check accepts the planted answer and rejects it
  *    mutated (a dropped row, a changed id or count);
  *  - a call that throws, or whose check fails, counts as failed. */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  /** Sum of per-row hashes over every parquet table under `dir`. */
  def dirHash(spark: SparkSession, dir: String): Long =
    Option(new File(dir).listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).map { f =>
        val df = spark.read.parquet(f.getPath)
        val h = df.select(xxhash64(df.columns.map(col): _*).as("h"))
          .agg(coalesce(sum(col("h").cast("decimal(38,0)")), lit(0)).cast("string")).head().getString(0)
        h.hashCode.toLong * 31 + f.getName.hashCode
      }.sum

  def run(work: String): Boolean = {
    val spark = Main.session(work)
    try {
      seeds(spark, work)
      geotag(spark, work)
      cluster()
      cadastre(spark, work)
      corpus(spark, work)
      calls(spark, work)
    } finally spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    failures == 0
  }

  def seeds(spark: SparkSession, work: String): Unit =
    for (name <- Seq("geotag_join", "geo_cluster", "cadastre_pipeline", "corpus_pipeline")) {
      val w = Main.workload(name)
      def hashOf(seed: Long, tag: String): Long = {
        w.setup(spark, seed, s"$work/seed-$name-$tag"); w.inputHash(spark)
      }
      val a = hashOf(1, "a"); val b = hashOf(1, "b"); val c = hashOf(2, "c")
      expect(s"$name: same seed, same inputs", a == b)
      expect(s"$name: other seed, other inputs", a != c)
    }

  def geotag(spark: SparkSession, work: String): Unit = {
    val w = new GeotagJoin
    val want = Set((1L, 10L), (2L, 10L), (3L, 11L))
    val counts = Map(10L -> 5L, 11L -> 7L)
    expect("geotag_join: planted sample accepted", w.checkSample(want, want, counts).isEmpty)
    expect("geotag_join: dropped sampled row rejected", w.checkSample(want - ((3L, 11L)), want, counts).nonEmpty)
    expect("geotag_join: changed zone rejected",
      w.checkSample(want - ((3L, 11L)) + ((3L, 10L)), want, counts).nonEmpty)
    expect("geotag_join: zone rollup short of one point rejected",
      w.check(spark, null, Map(10L -> (w.N - 1)), w.N).nonEmpty)
    expect("geotag_join: tile rollup short of one point rejected",
      w.check(spark, null, Map(10L -> w.N), w.N - 1).nonEmpty)
  }

  def cluster(): Unit = {
    val w = new GeoCluster
    val (_, pts) = w.clouds(7L).head
    val planted = pts.map(p => p._1 -> p._4).toMap
    val minOf = pts.filter(_._4 >= 0).groupBy(_._4).map { case (b, ms) => b -> ms.map(_._1).min }
    val out = pts.map { case (id, _, _, b) =>
      if (b < 0) (id, "noise", -1L) else (id, "core", minOf(b))
    }
    expect("geo_cluster: planted clusters accepted", w.check(planted, out).isEmpty)
    expect("geo_cluster: dropped row rejected", w.check(planted, out.tail).nonEmpty)
    val k = out.indexWhere(_._2 == "core")
    expect("geo_cluster: changed cluster id rejected",
      w.check(planted, out.updated(k, (out(k)._1, "core", out(k)._3 + 1))).nonEmpty)
    val n = out.indexWhere(_._2 == "noise")
    expect("geo_cluster: noise point clustered rejected",
      w.check(planted, out.updated(n, (out(n)._1, "core", out(n)._1))).nonEmpty)
    // one dense cell of 4 points: contraction volume 0, plain 4 * 4
    val dense = (0 until 4).map(i => (i.toLong, 0.1 + 0.1 * i, 0.1, 0L))
    expect("geo_cluster: dense cell dispatches to the contraction plan",
      w.pairVolumes(dense) == ((BigInt(0), BigInt(16))) && w.plan(w.pairVolumes(dense)) == "contraction")
    // two isolated points: both volumes 2, and a tie takes the plain plan
    val sparse = Seq((0L, 0.5, 0.5, -1L), (1L, 50.5, 0.5, -1L))
    expect("geo_cluster: sparse points dispatch to the plain plan",
      w.pairVolumes(sparse) == ((BigInt(2), BigInt(2))) && w.plan(w.pairVolumes(sparse)) == "plain")
    val regimes = Map("uniform" -> ((BigInt(2), BigInt(1))), "hotspot" -> ((BigInt(1), BigInt(2))))
    expect("geo_cluster: planted regimes accepted", w.regimeError(regimes).isEmpty)
    expect("geo_cluster: uniform cloud on the contraction plan rejected",
      w.regimeError(regimes.updated("uniform", (BigInt(1), BigInt(2)))).nonEmpty)
  }

  def cadastre(spark: SparkSession, work: String): Unit = {
    val w = new CadastrePipeline
    w.setup(spark, 5L, s"$work/check-cadastre")
    val metrics = w.expected.toSeq.map { case ((m, k), v) => (m, k, v) }
    val docs = (0 until w.Muns * w.T).map(i => s"t$i" -> s"<osm $i/>").toMap
    expect("cadastre_pipeline: planted metrics accepted", w.check(14, 0, metrics, metrics, docs, docs).isEmpty)
    val bumped = metrics.updated(0, metrics.head.copy(_3 = metrics.head._3 + 1))
    expect("cadastre_pipeline: changed metric rejected", w.check(14, 0, bumped, bumped, docs, docs).nonEmpty)
    expect("cadastre_pipeline: dropped task document rejected",
      w.check(14, 0, metrics, metrics, docs - "t0", docs - "t0").nonEmpty)
    expect("cadastre_pipeline: resume document change rejected",
      w.check(14, 0, metrics, metrics, docs, docs.updated("t0", "<osm/>")).nonEmpty)
    expect("cadastre_pipeline: recomputing resume rejected", w.check(14, 1, metrics, metrics, docs, docs).nonEmpty)
  }

  def corpus(spark: SparkSession, work: String): Unit = {
    val w = new CorpusPipeline
    w.setup(spark, 5L, s"$work/check-corpus")
    val canon = (0L until w.Pages).filterNot(w.blocked).map(_ * 4)
    val groups = canon.groupBy(w.group).values.map(_.sorted).toSeq
    val pairs = groups.flatMap(g => for (a <- g; b <- g if a < b) yield (a, b)).toArray
    val kept = groups.map(_.head).toSet
    expect("corpus_pipeline: planted groups accepted", w.checkDedup(pairs, kept).isEmpty)
    expect("corpus_pipeline: dropped kept document rejected", w.checkDedup(pairs, kept - kept.head).nonEmpty)
    val (a, b) = (groups.head.head, groups.last.head)
    expect("corpus_pipeline: pair across groups rejected",
      w.checkDedup(pairs :+ ((math.min(a, b), math.max(a, b))), kept).nonEmpty)
    expect("corpus_pipeline: recall below the floor rejected",
      w.checkDedup(pairs.take((pairs.length * 0.9).toInt), kept).nonEmpty)
  }

  def calls(spark: SparkSession, work: String): Unit = {
    final class Fixed(result: => Iter) extends Workload {
      val name = "fixed"; val warmups = 0; def inputRows = 1L
      def setup(spark: SparkSession, seed: Long, dir: String): Unit = ()
      def iteration(spark: SparkSession, t: Trace, work: String): Iter = result
    }
    val trace = new Trace(spark.sparkContext)
    def count(w: Workload): Calls = { val c = new Calls(w, spark, trace, work); c.once(false); c }
    val thrown = count(new Fixed(throw new IllegalStateException("boom")))
    expect("calls: thrown call counts as failed", thrown.attempted == 1 && thrown.failed == 1 && thrown.errorRate == 1.0)
    val wrong = count(new Fixed(Iter(1.0, None, Some("wrong output"))))
    expect("calls: failed check counts as failed", wrong.failed == 1 && wrong.errorRate == 1.0)
    val ok = count(new Fixed(Iter(1.0, None, None)))
    expect("calls: correct call counts as passed", ok.attempted == 1 && ok.failed == 0 && ok.errorRate == 0.0)
  }
}
