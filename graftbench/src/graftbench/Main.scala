package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one measured iteration produced: the primary timed part (`mainS`,
  * the denominator of rows_per_s), an optional resume time, and a
  * correctness verdict (None = correct, Some(reason) = wrong). */
final case class Iter(mainS: Double, resumeS: Option[Double], error: Option[String])

/** A seeded workload. `setup` generates inputs under `dir` (it is called
  * several times, each into a fresh dir; the last call's inputs are the
  * ones measured). `iteration` runs the measured calls and checks them. */
trait Workload {
  /** Where the last `setup` wrote the inputs. */
  protected var dir = ""
  def name: String
  def warmups: Int
  def inputRows: Long
  /** Input size on disk, MB (0 when the inputs are not files). */
  def inputMb: Double = 0.0
  /** Checkpoint stages computed by the last fresh run and by its resume. */
  var stageCounts: (Int, Int) = (0, 0)
  def setup(spark: SparkSession, seed: Long, dir: String): Unit
  def iteration(spark: SparkSession, t: Trace, work: String): Iter
  /** Order-independent hash of the generated inputs (self-test). */
  def inputHash(spark: SparkSession): Long = SelfTest.dirHash(spark, dir)
  /** Trace-only probes (kernel loops, candidate counts) as per-layer metrics. */
  def probes(spark: SparkSession): Map[String, Double] = Map.empty
  /** Facts about the generated inputs for the run's log line. */
  def describe: String = ""
}

/** Runs calls of one workload and counts them: a call that throws or whose
  * output fails its check is failed. Between calls, outside any timing,
  * operator caches are drained and the checkpoint directory is recreated. */
final class Calls(w: Workload, spark: SparkSession, trace: Trace, work: String) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def errorRate: Double = if (attempted > 0) failed.toDouble / attempted else 1.0

  def once(traced: Boolean): Option[Iter] = {
    graft.CacheBin.drain(blocking = true)
    Main.rmrf(new File(s"$work/ck"))
    new File(s"$work/ck").mkdirs()
    attempted += 1
    trace.enabled = traced
    val r = try Some(w.iteration(spark, trace, s"$work/ck")) catch {
      case e: Throwable =>
        errors += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    } finally trace.enabled = false
    r.flatMap(_.error).foreach(errors += _)
    if (r.forall(_.error.nonEmpty)) { failed += 1; None } else r
  }
}

/** Heap in use after each garbage collection, from the collectors' GC
  * notifications. [[during]] marks a measured call; [[peakMb]] is the
  * largest post-collection heap seen inside any marked call. Notifications
  * arrive on their own thread, so collections are matched to calls by
  * their start time, not by when they are delivered. */
final class HeapPeak {
  import scala.jdk.CollectionConverters._
  import java.lang.management.MemoryType
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val uptime = ManagementFactory.getRuntimeMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** (collection start, heap bytes in use after it), JVM uptime ms. */
  private val gcs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = gc.getMemoryUsageAfterGc.asScala.collect { case (k, u) if heapPools(k) => u.getUsed }.sum
        HeapPeak.this.synchronized(gcs += ((gc.getStartTime, used)))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def during[T](f: => T): T = {
    val t0 = uptime.getUptime
    try f finally synchronized(windows += ((t0, uptime.getUptime)))
  }

  def peakMb: Double = synchronized {
    val in = gcs.collect { case (t, used) if windows.exists(w => t >= w._1 && t <= w._2) => used }
    in.maxOption.getOrElse(0L) / 1048576.0
  }
}

object Main {

  def workload(name: String): Workload = name match {
    case "geotag_join" => new GeotagJoin
    case "geo_cluster" => new GeoCluster
    case "cadastre_pipeline" => new CadastrePipeline
    case "corpus_pipeline" => new CorpusPipeline
    case "pipelines" => new BothPipelines
    case other => sys.error(s"unknown workload $other")
  }

  /** local[nproc] session; every scratch path under `work`. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The ScaleCalib canary kernel, in rows/s. */
  def calib(spark: SparkSession): Double = {
    val n = 100000000L
    val cores = Runtime.getRuntime.availableProcessors
    graft.ScaleCalib.kernel(spark, n / 20, cores * 2) // compile + JIT
    val t0 = System.nanoTime()
    graft.ScaleCalib.kernel(spark, n, cores * 2)
    n / ((System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use after a full collection, MB. Collected twice with a pause
    * between, so objects Spark's cleaner thread releases after the first
    * collection (unpersisted blocks, dropped broadcasts) are gone too. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** A short session that loads the classes every run needs (session
    * start, parquet out and in, a shuffle, a typed map), for the build's
    * class-data-sharing archive. */
  def loadClasses(work: String): Unit = {
    val spark = session(work)
    import spark.implicits._
    spark.range(0, 1000, 1, 2).selectExpr("id", "id % 7 as k").write.parquet(s"$work/t.parquet")
    spark.read.parquet(s"$work/t.parquet").groupBy("k").count()
      .join(spark.range(7).toDF("k"), "k").as[(Long, Long)].map(r => r._1 + r._2).collect()
    spark.stop()
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val opt = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      if (args(i) == "--selftest") { opt("selftest") = "1"; i += 1 }
      else { opt(args(i).stripPrefix("--")) = args(i + 1); i += 2 }
    }
    val work = opt("work")
    if (opt.contains("classes")) {
      loadClasses(work)
      System.exit(0)
    }
    if (opt.contains("selftest")) {
      val ok = SelfTest.run(work)
      System.exit(if (ok) 0 else 1)
    }
    val w = workload(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val code = try run(w, seed, seconds, traced, work, opt.get("trace-out")) catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  def run(w: Workload, seed: Long, seconds: Double, traced: Boolean, work: String,
      traceOut: Option[String]): Int = {
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val calibStart = calib(spark)
    val trace = new Trace(spark.sparkContext)

    // set-up: input generation three times (median), then warm-up calls
    val genS = (1 to 3).map { k =>
      val dir = s"$work/input-$k"
      val g0 = System.nanoTime()
      w.setup(spark, seed, dir)
      (System.nanoTime() - g0) / 1e9
    }
    val w0 = System.nanoTime()
    val calls = new Calls(w, spark, trace, work)
    import calls.once
    // warm-up calls count toward attempted/failed like measured ones: a
    // call that fails during warm-up is still a failed call
    (1 to w.warmups).foreach(_ => once(false))
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(genS) + warmS

    // measured iterations: untraced only, or alternating untraced/traced.
    // A workload measured cold (no warm-up) has one cold call per session,
    // so its traced run traces that call and has no untraced one
    val coldTrace = traced && w.warmups == 0
    val plain = mutable.ArrayBuffer.empty[Iter]
    val withTrace = mutable.ArrayBuffer.empty[Iter]
    // peak heap: the largest post-collection heap inside a measured call,
    // never below the live heap a full collection leaves between calls
    val heap = new HeapPeak
    var liveFloor = 0.0
    val m0 = System.nanoTime()
    var n = 0
    while ((System.nanoTime() - m0) / 1e9 < seconds || n < (if (traced && !coldTrace) 2 else 1)) {
      val tr = coldTrace || (traced && n % 2 == 1)
      heap.during(once(tr)).foreach(r => (if (tr) withTrace else plain) += r)
      liveFloor = math.max(liveFloor, liveHeapMb())
      n += 1
    }
    val calibEnd = calib(spark)
    val peakHeap = math.max(liveFloor, heap.peakMb)

    // the untraced calls give the run's figures; a cold traced run has only
    // its traced call
    val shown = if (plain.nonEmpty) plain else withTrace
    val med = median(shown.map(_.mainS).toSeq)
    val rowsPerS = w.inputRows / med
    val resumes = shown.flatMap(_.resumeS).toSeq
    val sorted = shown.map(_.mainS).sorted
    System.err.println(f"[graftbench] ${w.name} seed=$seed rows=${w.inputRows} n=${sorted.size} " +
      f"median=${med}%.4fs max=${sorted.lastOption.getOrElse(0.0)}%.4fs session=$sessionS%.2fs " +
      f"gen=${genS.map(g => f"$g%.2f").mkString("/")}s warm=$warmS%.2fs " +
      f"calib=${calibStart / 1e9}%.2f->${calibEnd / 1e9}%.2f Brow/s errors=${calls.errors.distinct.take(3)} " +
      w.describe)
    val correct = calls.failed == 0
    val errorRate = calls.errorRate
    val resumeTxt = if (resumes.isEmpty) "" else f" resume_s=${median(resumes)}%.4f s"
    println(f"${w.name}: rows_per_s=$rowsPerS%.1f rows/s (n=${sorted.size}, rows=${w.inputRows})" +
      f" setup_s=$setupS%.3f s peak_heap_mb=$peakHeap%.1f MB error_rate=$errorRate%.4f$resumeTxt" +
      f" calib=${calibStart / 1e9}%.3f->${calibEnd / 1e9}%.3f Brow/s")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("rows_per_s", rowsPerS, "rows/s"),
        ("setup_s", setupS, "s"))
      else {
        val sum = trace.summarize()
        traceOut.foreach(trace.writeJsonl)
        val tracedRate = w.inputRows / median(withTrace.map(_.mainS).toSeq)
        Layers.metrics(sum, w, resumes, if (plain.nonEmpty) rowsPerS else Double.NaN, tracedRate, peakHeap,
          calibStart, calibEnd, w.probes(spark))
      }
    val body = metrics.map { case (k, v, u) => s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }
      .mkString(",")
    println(s"""{"correct":$correct,"attempted":${calls.attempted},"failed":${calls.failed},"metrics":{$body}}""")
    spark.stop()
    0
  }
}
