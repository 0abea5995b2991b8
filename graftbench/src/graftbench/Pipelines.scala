package graftbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.Pt
import graft.geom.Geom.MultiPolygon
import graft.ops.ParcelOps
import graft.ops.ParcelOps.{ConsF, Parcel}
import graft.pipeline.{AppRun, CheckpointedPipeline, GeoPipeline}
import graft.pipeline.AppRun.{MunAddr, MunSeqCons}

/** A checkpoint store that opens one span per stage, labelled with the layer
  * whose operator the stage computes; a stage served from its manifest is
  * re-labelled to the checkpoint layer. */
final class TracedCheckpoint(spark: SparkSession, root: String, t: Trace,
    layerOf: String => (String, String)) extends CheckpointedPipeline(spark, root) {
  override def stage(name: String, fingerprint: String)(f: => DataFrame): DataFrame = {
    val (layer, step) = layerOf(name)
    t.span(layer, step) {
      val before = computedStages
      val out = super.stage(name, fingerprint)(f)
      if (computedStages == before) t.relabelCurrent("pipeline.CheckpointedPipeline")
      out
    }
  }
}

object Pipelines {
  def dirMb(path: String): Double = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L) else f.length
    size(new File(path)) / 1048576.0
  }
}

/** cadastre_pipeline: `AppRun.runMulti` into a fresh checkpoint, then again
  * on the same checkpoint (a resume that recomputes nothing).
  *
  * Input: per municipality, K = 5t unit-square buildings in clusters of 5
  * (the SynthMuni shape, whose closed forms the engine's own specs pin),
  * one coincident single-level part on every third building, one parcel per
  * even building, one Entrance (even) or Parcel (odd) address per building
  * — plus seeded dirt that makes the cleaning steps work:
  *  - near-duplicate and almost-collinear extra vertices on building rings
  *    (topology and simplify remove them; the feature survives);
  *  - narrow spikes on the top wall (delete_invalid removes the spike);
  *  - shared walls: in some clusters slot 1 is stacked onto slot 0;
  *  - outside parts: a part far from its building (remove_outside drops it);
  *  - invalid buildings: zero-area rings in their own cluster range
  *    (delete_invalid drops them; no parcel or address refers to them).
  * Closed form per municipality: outside_parts = planted outside parts,
  * geom_invalid_building = planted invalid buildings, parts_to_outline =
  * ceil(K/3), out_features = inp_address = out_address = K, tasks = t. */
final class CadastrePipeline extends Workload {
  val name = "cadastre_pipeline"
  val warmups = 1
  val Muns = 2
  val T = 20 // clusters per municipality
  val K = 5 * T
  val DirtShare = 0.3
  val InvalidPerMun = 7
  def inputRows: Long = consRows
  override def inputMb: Double = inMb

  private var consRows = 0L
  private var inMb = 0.0
  private[graftbench] var expected = Map.empty[(String, String), Long]

  def lid(c: Long, m: Long, k: Long): String = f"$c%05dM${m}K$k%06d"
  val munOf: String => String = (ref: String) => ref.substring(5, 7)

  private def ring(x0: Double, y0: Double, dirt: Int): Array[Pt] = {
    val base = Seq(Pt(x0, y0), Pt(x0 + 1, y0), Pt(x0 + 1, y0 + 1), Pt(x0, y0 + 1))
    dirt match {
      case 1 => // near-duplicate vertex next to a corner, on the bottom wall
        Array(base(0), Pt(x0 + 0.005, y0), base(1), base(2), base(3))
      case 2 => // almost-collinear mid-wall vertex on the right wall
        Array(base(0), base(1), Pt(x0 + 1 + 0.001, y0 + 0.5), base(2), base(3))
      case 3 => // narrow spike on the top wall
        Array(base(0), base(1), base(2), Pt(x0 + 0.51, y0 + 1), Pt(x0 + 0.5, y0 + 1.6),
          Pt(x0 + 0.49, y0 + 1), base(3))
      case _ => base.toArray
    }
  }
  private def mp(r: Array[Pt]): MultiPolygon = Array(Array(r))
  private def square(x0: Double, y0: Double): MultiPolygon = mp(ring(x0, y0, 0))

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    this.dir = dir
    val cons = Seq.newBuilder[MunSeqCons]
    val parcels = Seq.newBuilder[ParcelOps.MunParcel]
    val addrs = Seq.newBuilder[MunAddr]
    val exp = scala.collection.mutable.Map.empty[(String, String), Long]
    for (m <- 0 until Muns) {
      val mun = s"M$m"
      var seq = 0L
      var outside = 0L
      def add(f: ConsF): Unit = { cons += MunSeqCons(mun, seq, f); seq += 1 }
      val y0 = m * 100000.0
      for (k <- 0L until K) {
        val c = k / 5; val s = k % 5
        val l = lid(c, m, k)
        val key = (m.toLong << 32) + k
        // shared wall: slot 1 stacked onto slot 0 in some clusters
        val stacked = s == 1 && Gen.u(seed, (m.toLong << 32) + c, 7) < DirtShare
        val (bx, by) = if (stacked) (c * 500.0, y0 + 1) else (c * 500.0 + s * 5.0, y0)
        val dirt = if (Gen.u(seed, key, 0) < DirtShare) 1 + (Gen.mix(seed + key) & 3).toInt % 3 else 0
        add(ConsF(l, l, "building", 2, 0, mp(ring(bx, by, dirt))))
        if (k % 3 == 0) add(ConsF(l + "P1", l, "part", 3, 0, square(bx, by)))
        if (Gen.u(seed, key, 1) < DirtShare) {
          add(ConsF(l + "P9", l, "part", 1, 0, square(bx + 0.25, by + 50.0)))
          outside += 1
        }
        if (k % 2 == 0)
          parcels += ParcelOps.MunParcel(mun, k, Parcel(l, null, 0, square(bx, by)))
        val id = k * Muns + m
        addrs += (if (k % 2 == 0) MunAddr(mun, s"A$id", l, "Entrance", bx - 0.3, by + 0.5)
          else MunAddr(mun, s"A$id", l, "Parcel", bx + 0.5, by + 0.5))
      }
      for (i <- 0 until InvalidPerMun) {
        val c = 90000L + i
        val l = lid(c, m, 900000L + i)
        val x = c * 500.0 + 3 * Gen.u(seed, (m.toLong << 32) + c, 0)
        add(ConsF(l, l, "building", 1, 0,
          mp(Array(Pt(x, y0), Pt(x + 1, y0), Pt(x + 2, y0), Pt(x + 1, y0)))))
      }
      exp((mun, "outside_parts")) = outside
      exp((mun, "geom_invalid_building")) = InvalidPerMun
      exp((mun, "parts_to_outline")) = (K + 2) / 3
      exp((mun, "out_features")) = K
      exp((mun, "inp_address")) = K
      exp((mun, "out_address")) = K
      exp((mun, "tasks")) = T
    }
    val consSeq = cons.result()
    consRows = consSeq.size
    expected = exp.toMap
    val parts = Runtime.getRuntime.availableProcessors
    consSeq.toDS().repartition(parts).write.parquet(s"$dir/cons.parquet")
    parcels.result().toDS().repartition(parts).write.parquet(s"$dir/parcels.parquet")
    addrs.result().toDS().repartition(parts).write.parquet(s"$dir/addrs.parquet")
    inMb = Pipelines.dirMb(dir)
  }

  val stageLayer: String => (String, String) = {
    case "s00_ordered" => ("sources.OsmOut", "withGlobalRank")
    case "s01_outside" => ("ops.ConsChain", "removeOutsideParts")
    case "s02_explode" => ("ops.ConsChain", "explode")
    case "s03_invalid" => ("ops.ConsChain", "deleteInvalid")
    case "s04_topology" => ("ops.ConsChain", "topology")
    case "s05_mergeparts" => ("ops.ConsChain", "mergeParts")
    case "s06_simplify" => ("ops.ConsChain", "simplify")
    case "s07_prepared" => ("ops.ConsChain", "deleteSmall")
    case "s08_addresses" => ("ops.MoveAddress", "moveAddressFull")
    case "s09_counted" => ("ops.ParcelOps", "countParts")
    case "s10_mergeadj" => ("ops.ParcelOps", "mergeByAdjacentBuildings")
    case "s11_mergecnt" => ("ops.ParcelOps", "mergeByPartsCount")
    case "s12_taskmap" => ("ops.ParcelOps", "taskMap")
    case "s13_taskdocs" => ("sources.OsmOut", "perTaskOsmXml")
    case other => ("pipeline.AppRun", other)
  }

  def iteration(spark: SparkSession, t: Trace, work: String): Iter = {
    import spark.implicits._
    val cons = spark.read.parquet(s"$dir/cons.parquet").as[MunSeqCons]
    val parcels = spark.read.parquet(s"$dir/parcels.parquet").as[ParcelOps.MunParcel]
    val addrs = spark.read.parquet(s"$dir/addrs.parquet").as[MunAddr]
    def runOnce(phase: String): (Double, Int, Seq[(String, String, Long)], Map[String, String]) = {
      val cp = new TracedCheckpoint(spark, s"$work/cadastre", t, stageLayer)
      val t0 = System.nanoTime()
      val (metrics, docs) = t.span("bench", phase) {
        t.span("pipeline.AppRun", "runMulti") {
          val mr = AppRun.runMulti(spark, cons, parcels, addrs, munOf,
            checkpoint = Some((cp, "graftbench-cadastre")))
          (mr.metrics, mr.taskDocs.collect().map(d => d.label -> d.xml).toMap)
        }
      }
      ((System.nanoTime() - t0) / 1e9, cp.computedStages, metrics, docs)
    }
    val (freshS, freshStages, freshMetrics, freshDocs) = runOnce("fresh")
    graft.CacheBin.drain(blocking = true)
    val (resumeS, resumeStages, resumeMetrics, resumeDocs) = runOnce("resume")
    stageCounts = (freshStages, resumeStages)
    Iter(freshS, Some(resumeS),
      check(freshStages, resumeStages, freshMetrics, resumeMetrics, freshDocs, resumeDocs))
  }

  def check(freshStages: Int, resumeStages: Int, fresh: Seq[(String, String, Long)],
      resume: Seq[(String, String, Long)], freshDocs: Map[String, String],
      resumeDocs: Map[String, String]): Option[String] = {
    val got = fresh.map(r => (r._1, r._2) -> r._3).toMap
    if (freshStages != 14) Some(s"fresh run computed $freshStages stages, not 14")
    else if (resumeStages != 0) Some(s"resume recomputed $resumeStages stages")
    else expected.collectFirst {
      case (k, v) if got.getOrElse(k, -1L) != v => s"metric $k = ${got.getOrElse(k, -1L)}, planted $v"
    }.orElse {
      if (freshDocs.size != Muns * T) Some(s"${freshDocs.size} task documents, planted ${Muns * T}")
      else if (resume.toSet != fresh.toSet) Some("resume metrics differ from the fresh run")
      else if (resumeDocs != freshDocs) Some("resume task documents differ from the fresh run")
      else None
    }
  }
}

/** corpus_pipeline: `GeoPipeline.run` into a fresh checkpoint, a resume,
  * then MinHash near-dup detection and representative selection over the
  * canonical documents.
  *
  * Input: a documents table (doc_id, lang, text). GeoPipeline derives four
  * messy url revisions per page (page = doc_id div 4) and drops three of
  * sixteen hosts; the generator plants near-duplicate groups among pages:
  * a group's pages share a base text with one word changed per page, every
  * other page has its own text. Kept documents = surviving groups plus
  * surviving singleton pages. */
final class CorpusPipeline extends Workload {
  val name = "corpus_pipeline"
  val warmups = 1
  val Pages = 2500L // canonical pages; 4 documents each
  val Words = 100
  val Vocab = 20000
  val GroupShare = 0.4
  val GroupSize = 4
  def inputRows: Long = Pages * 4
  override def inputMb: Double = inMb

  private var inMb = 0.0
  private var expectedKept = 0L
  private var grouped = 0L
  private var recall = 0.0
  val RecallFloor = 0.99

  def blocked(page: Long): Boolean = Set(3L, 7L, 11L).contains(page % 16)

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    this.dir = dir
    grouped = (Pages * GroupShare).toLong / GroupSize * GroupSize
    val survivors = (0L until Pages).filterNot(blocked)
    expectedKept = survivors.count(_ >= grouped) +
      survivors.filter(_ < grouped).map(_ / GroupSize).distinct.size
    val s = seed; val g = grouped; val gs = GroupSize; val nw = Words; val v = Vocab
    val langs = Array("en", "es", "ca", "fr")
    spark.range(0, Pages * 4, 1, Runtime.getRuntime.availableProcessors).as[Long].map { doc =>
      val page = doc / 4
      val textKey = if (page < g) -1 - page / gs else page
      val words = Array.tabulate(nw)(i => s"w${(Gen.mix(s * 7 + textKey * 131 + i) >>> 1) % v}")
      if (page < g) { // one word changed per page of a group
        val i = ((Gen.mix(s + page) >>> 1) % nw).toInt
        words(i) = s"x${page}"
      }
      (doc, langs((page % 4).toInt), words.mkString(" "))
    }.toDF("doc_id", "lang", "text").write.parquet(s"$dir/documents.parquet")
    inMb = Pipelines.dirMb(dir)
  }

  val stageLayer: String => (String, String) = {
    case "pages" => ("sources.Pages", "pages")
    case "canonical" => ("ops.UrlOps", "canonical")
    case "geotag" => ("spatial.S2Grid", "geotag")
    case "tiles" => ("spatial.S2Grid", "tiles")
    case "regions" => ("spatial.S2Grid", "regions")
    case other => ("pipeline.GeoPipeline", other)
  }

  def iteration(spark: SparkSession, t: Trace, work: String): Iter = {
    val root = s"$work/corpus"
    def runOnce(phase: String): (Double, Int, GeoPipeline.Result, Array[(Long, String, Long)]) = {
      val cp = new TracedCheckpoint(spark, root, t, stageLayer)
      val t0 = System.nanoTime()
      val (res, report) = t.span("bench", phase) {
        t.span("pipeline.GeoPipeline", "run") {
          val r = GeoPipeline.run(spark, dir, cp, "graftbench")
          (r, r.report.collect().map(x => (x.getAs[Long]("region_id"), x.getAs[String]("lang"), x.getAs[Long]("n_docs"))))
        }
      }
      ((System.nanoTime() - t0) / 1e9, cp.computedStages, res, report)
    }
    val (freshS, freshStages, fresh, freshReport) = runOnce("fresh")
    val d0 = System.nanoTime()
    val (pairs, kept) = t.span("bench", "dedup") {
      val docs = spark.read.parquet(s"$root/canonical.parquet").select("doc_id")
        .join(spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"), "doc_id")
      t.span("dedup.Dedup", "minhashNearDups") {
        val pairs = graft.dedup.Dedup.minhashNearDups(docs, "doc_id", "text")
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
        val pairDf = spark.createDataFrame(pairs.toSeq).toDF("id_a", "id_b")
        (pairs, graft.dedup.Dedup.keepRepresentatives(docs, "doc_id", pairDf)
          .collect().map(_.getLong(0)).toSet)
      }
    }
    val dedupS = (System.nanoTime() - d0) / 1e9
    graft.CacheBin.drain(blocking = true)
    val (resumeS, resumeStages, resumed, resumeReport) = runOnce("resume")
    stageCounts = (freshStages, resumeStages)
    val err =
      if (fresh.failedLaws.nonEmpty) Some(s"failed laws: ${fresh.failedLaws.mkString(",")}")
      else if (resumed.failedLaws.nonEmpty) Some(s"failed laws on resume: ${resumed.failedLaws.mkString(",")}")
      else if (freshStages != 6 || resumeStages != 0) Some(s"stages computed $freshStages/$resumeStages, not 6/0")
      else if (freshReport.toSet != resumeReport.toSet) Some("resume report differs from the fresh run")
      else checkDedup(pairs, kept)
    Iter(freshS + dedupS, Some(resumeS), err)
  }

  /** Group of a canonical document (its page's planted group, or itself). */
  def group(doc: Long): Long = { val p = doc / 4; if (p < grouped) -1 - p / GroupSize else p }

  /** MinHash-LSH may miss a similar pair but must never pair two planted
    * groups: every reported pair lies inside one group (exact), at least
    * RecallFloor of the planted surviving pairs are found, and the kept set
    * is exactly one representative (the min id) per connected component of
    * the reported pairs, so kept = planted groups + singletons + the
    * components that missed pairs split off. */
  def checkDedup(pairs: Array[(Long, Long)], kept: Set[Long]): Option[String] = {
    val canon = (0L until Pages).filterNot(blocked).map(_ * 4)
    val planted = canon.groupBy(group).values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    recall = pairs.length.toDouble / math.max(1L, planted)
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val want = canon.filter(d => find(d) == d).toSet
    pairs.collectFirst { case (a, b) if group(a) != group(b) => s"pair ($a, $b) joins two planted groups" }
      .orElse(if (recall < RecallFloor) Some(f"near-dup recall $recall%.4f below $RecallFloor") else None)
      .orElse(if (kept != want) Some(s"kept ${kept.size} documents, components of the pairs give ${want.size}") else None)
      .orElse(if (kept.size < expectedKept) Some(s"kept ${kept.size} < planted $expectedKept") else None)
  }

  override def probes(spark: SparkSession): Map[String, Double] = {
    // LSH candidates (every band collision, threshold 0) vs verified pairs
    val docs = spark.read.parquet(s"$dir/documents.parquet").where(col("doc_id") % 4 === 0)
      .select("doc_id", "text")
    val cand = graft.dedup.Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.0).count()
    val verified = graft.dedup.Dedup.minhashNearDups(docs, "doc_id", "text").count()
    graft.CacheBin.drain(blocking = true)
    Map("dedup.Dedup.useful_ratio" -> verified.toDouble / math.max(1L, cand),
      "dedup.Dedup.recall" -> recall)
  }
}

/** pipelines: the two pipeline workloads in one run — cadastre_pipeline's
  * fresh `runMulti` and its resume, then corpus_pipeline's fresh
  * `GeoPipeline.run`, dedup and resume — each with its own inputs and
  * checks. The timed part is both fresh runs plus dedup, the resume time is
  * both resumes, and the input rows are construction features plus corpus
  * documents.
  *
  * No warm-up call: a pipeline is a one-shot job, run once per session by
  * `RunPipeline`, and its first call in a fresh session is what its user
  * waits for. The first call also holds the session's code generation and
  * JIT compilation; at about 200 jobs per `runMulti` a warm-up call would
  * cost more than the measured one. */
final class BothPipelines extends Workload {
  val name = "pipelines"
  val warmups = 0
  val cadastre = new CadastrePipeline
  val corpus = new CorpusPipeline
  def inputRows: Long = cadastre.inputRows + corpus.inputRows
  override def inputMb: Double = cadastre.inputMb + corpus.inputMb

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    this.dir = dir
    cadastre.setup(spark, seed, s"$dir/cadastre")
    corpus.setup(spark, seed, s"$dir/corpus")
  }

  override def inputHash(spark: SparkSession): Long =
    cadastre.inputHash(spark) * 31 + corpus.inputHash(spark)

  def iteration(spark: SparkSession, t: Trace, work: String): Iter = {
    val a = cadastre.iteration(spark, t, work)
    graft.CacheBin.drain(blocking = true)
    val b = corpus.iteration(spark, t, work)
    stageCounts = (cadastre.stageCounts._1 + corpus.stageCounts._1,
      cadastre.stageCounts._2 + corpus.stageCounts._2)
    Iter(a.mainS + b.mainS, Some(a.resumeS.getOrElse(0.0) + b.resumeS.getOrElse(0.0)),
      a.error.map("cadastre: " + _).orElse(b.error.map("corpus: " + _)))
  }

  override def probes(spark: SparkSession): Map[String, Double] = corpus.probes(spark)
}
