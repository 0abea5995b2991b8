package graftbench

import java.io.PrintWriter
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run.
  *
  * The benchmark opens a span around each public call it makes into the
  * engine ([[span]]); the span id becomes the Spark job group, so every job
  * the call starts is tied to that span. Each job is then attributed to a
  * layer: the innermost `graft.*` frame on the job's call-site stack (read
  * from `StageInfo.details`), or the enclosing span's layer when the engine
  * has no frame on the stack (a lazy result the benchmark itself forces).
  * One exception: the stage write inside `CheckpointedPipeline.stage` runs
  * the stage's whole plan, so its SQL execution is charged to the enclosing
  * span (the operator that plan computes); the checkpoint layer keeps its
  * read-backs, manifests and metrics writes.
  *
  * Self time: every instant of a root span's wall time goes to exactly one
  * layer — split evenly among the jobs running then, or, with no job
  * running, to the innermost open span. Self times therefore sum to the
  * traced wall time; the root spans' own self time is the remainder no
  * engine layer accounts for.
  *
  * Spans open only while [[enabled]] is set, so untraced iterations pay
  * only for an idle listener. Events are kept by the job group they carry,
  * not by [[enabled]]: Spark's listener bus delivers them asynchronously,
  * so events of a traced call may arrive after the call has returned, and
  * [[summarize]] first waits until the bus is empty.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  /** SQL execution id -> (long, short) call site of the action that started it. */
  private val execSite = mutable.HashMap.empty[Long, (String, String)]
  var gcMs = 0L
  var failedTasks = 0L
  private var nextId = 1L
  sc.addSparkListener(this)

  /** Run `f` inside a span of `layer` (e.g. "spatial.Dbscan"); `step` names
    * the call. Spans nest; jobs started inside belong to the innermost. */
  def span[T](layer: String, step: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = synchronized {
        val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0L), layer, step, now)
        nextId += 1
        spans += s; stack.push(s); s
      }
      sc.setJobGroup(s.id.toString, s"${s.layer}.$step", interruptOnCancel = false)
      try f
      finally synchronized {
        s.end = now
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, s"${p.layer}.${p.step}", false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Re-label the innermost open span (a checkpoint stage that turned out
    * to be a manifest hit belongs to the checkpoint layer, not to the
    * operator it would have run). */
  def relabelCurrent(layer: String): Unit = synchronized {
    stack.headOption.foreach(_.layer = layer)
  }

  /** The span a job group names, if it is one of ours. */
  private def spanOf(group: Option[String]): Option[Long] =
    group.flatMap(_.toLongOption).filter(id => id > 0 && id < nextId)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized {
        if (spanOf(s.jobGroupId).nonEmpty) execSite(s.executionId) = (s.details, s.description)
      }
    case _ =>
  }

  /** Jobs that adaptive execution submits from its own threads carry no
    * user frames; their SQL execution's action call site stands in. */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    spanOf(prop("spark.jobGroup.id")).foreach(spanId => recordJob(e, spanId, prop))
  }

  private def recordJob(e: SparkListenerJobStart, spanId: Long, prop: String => Option[String]): Unit = {
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val own = (result.map(_.details).getOrElse(""), result.map(_.name).getOrElse(""))
    val (site, short) = if (innermostGraftFrame(own._1).nonEmpty) own
      else prop("spark.sql.execution.id").flatMap(_.toLongOption).flatMap(execSite.get).getOrElse(own)
    val exec = prop("spark.sql.execution.id").flatMap(_.toLongOption).getOrElse(-1L)
    val j = Job(e.jobId, spanId, site, short, exec, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  /** Only tasks of traced jobs count: [[stageJob]] holds just their stages. */
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      if (!e.taskInfo.successful) failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        gcMs += m.jvmGCTime
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outBytes += m.outputMetrics.bytesWritten
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
  }

  /** SQL executions that wrote a checkpoint stage's data: every job of such
    * an execution (adaptive execution splits it into several) runs the
    * stage's plan. */
  private def stageWrites: Set[Long] =
    jobs.values.filter(j => j.execId >= 0 && j.outBytes > 0 &&
      innermostGraftFrame(j.callSite).contains(("pipeline.CheckpointedPipeline", "stage")))
      .map(_.execId).toSet

  /** Layer a job is charged to (see the class comment). */
  private def layerOf(j: Job, byId: Map[Long, Span], writes: Set[Long]): String = {
    val enclosing = byId.get(j.spanId).map(_.layer).getOrElse(Unmatched)
    innermostGraftFrame(j.callSite) match {
      case Some(("pipeline.CheckpointedPipeline", "stage")) if writes.contains(j.execId) => enclosing
      case Some((layer, _)) => layer
      case None => enclosing
    }
  }

  /** Per-layer totals, overall and per root-span step (e.g. "fresh"). */
  def summarize(): Summary = {
    org.apache.spark.ListenerBusDrain(sc)
    summarizeDrained()
  }

  private def summarizeDrained(): Summary = synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    val closedJobs = jobs.values.filter(j => j.end >= j.start && byId.contains(j.spanId)).toSeq
    val layers = mutable.HashMap.empty[String, LayerStats]
    def ls(l: String) = layers.getOrElseUpdate(l, new LayerStats)
    def rootOf(s: Span): Span = if (s.parent == 0L) s else rootOf(byId(s.parent))
    val writes = stageWrites
    val jobLayer = closedJobs.map(j => j.id -> layerOf(j, byId, writes)).toMap
    for (j <- closedJobs) {
      val st = ls(jobLayer(j.id))
      st.jobs += 1; st.cpuNs += j.cpuNs; st.runMs += j.runMs
      st.shuffleBytes += j.shuffleBytes; st.spillBytes += j.spillBytes
      st.outBytesByRoot(rootOf(byId(j.spanId)).step) =
        st.outBytesByRoot.getOrElse(rootOf(byId(j.spanId)).step, 0L) + j.outBytes
    }
    for ((stage, times) <- stageTasks if times.size >= 2; j <- stageJob.get(stage)
         if jobLayer.contains(j.id)) {
      val sorted = times.sorted
      val med = sorted(sorted.size / 2).toDouble
      val st = ls(jobLayer(j.id))
      if (med > 0) st.skew = math.max(st.skew, sorted.last / med)
    }
    // self-time sweep over every root span's interval
    val cuts = (spans.flatMap(s => Seq(s.start, s.end)) ++
      closedJobs.flatMap(j => Seq(j.start, j.end))).distinct.sorted
    val spanDepth = spans.map(s => s.id -> depth(s, byId)).toMap
    var i = 0
    while (i + 1 < cuts.length) {
      val a = cuts(i); val b = cuts(i + 1); val dt = (b - a).toDouble
      val active = closedJobs.filter(j => j.start <= a && j.end >= b)
      if (active.nonEmpty) active.foreach { j =>
        ls(jobLayer(j.id)).addSelf(dt / active.size, byId(j.spanId), rootOf(byId(j.spanId)))
      }
      else {
        val open = spans.filter(s => s.start <= a && s.end >= b)
        if (open.nonEmpty) {
          val s = open.maxBy(x => spanDepth(x.id))
          ls(s.layer).addSelf(dt, s, rootOf(s))
        }
      }
      i += 1
    }
    val wallMs = spans.filter(_.parent == 0L).map(s => (s.end - s.start).toDouble).sum
    val outsideMs = jobs.values.filter(j => j.end >= j.start && !byId.contains(j.spanId))
      .map(j => (j.end - j.start).toDouble).sum
    Summary(layers.toMap, wallMs, outsideMs, gcMs, failedTasks)
  }

  private def depth(s: Span, byId: Map[Long, Span]): Int =
    if (s.parent == 0L) 0 else 1 + depth(byId(s.parent), byId)

  /** One JSON object per span and per job. */
  def writeJsonl(path: String): Unit = {
    org.apache.spark.ListenerBusDrain(sc)
    writeDrained(path)
  }

  private def writeDrained(path: String): Unit = synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    val writes = stageWrites
    val dir = new java.io.File(path).getParentFile
    if (dir != null) dir.mkdirs()
    val w = new PrintWriter(path)
    try {
      spans.foreach { s =>
        w.println(s"""{"kind":"span","id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
          s""""step":"${s.step}","start_ms":${s.start},"end_ms":${s.end}}""")
      }
      jobs.values.foreach { j =>
        w.println(s"""{"kind":"job","id":${j.id},"span":${j.spanId},"layer":"${layerOf(j, byId, writes)}",""" +
          s""""site":"${esc(j.shortSite)}","start_ms":${j.start},"end_ms":${j.end},""" +
          s""""cpu_ns":${j.cpuNs},"run_ms":${j.runMs},"shuffle_bytes":${j.shuffleBytes},""" +
          s""""spill_bytes":${j.spillBytes},"out_bytes":${j.outBytes}}""")
      }
    } finally w.close()
  }

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def now: Long = System.currentTimeMillis()
}

object Trace {
  val Unmatched = "unattributed"

  final case class Span(id: Long, parent: Long, var layer: String, step: String, start: Long) {
    var end: Long = -1L
  }
  final case class Job(id: Int, spanId: Long, callSite: String, shortSite: String, execId: Long,
      start: Long) {
    var end: Long = -1L
    var cpuNs = 0L; var runMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L; var outBytes = 0L
  }
  final class LayerStats {
    var selfMs = 0.0; var jobs = 0L; var cpuNs = 0L; var runMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var skew = 1.0
    val selfByRoot = mutable.HashMap.empty[String, Double]
    val selfByStep = mutable.HashMap.empty[String, Double]
    val outBytesByRoot = mutable.HashMap.empty[String, Long]
    /** Charge `ms` of self time, seen inside span `in` under root `root`. */
    def addSelf(ms: Double, in: Span, root: Span): Unit = {
      selfMs += ms
      selfByRoot(root.step) = selfByRoot.getOrElse(root.step, 0.0) + ms
      selfByStep(in.step) = selfByStep.getOrElse(in.step, 0.0) + ms
    }
  }
  /** `outsideMs`: time of traced jobs started outside every span. */
  final case class Summary(layers: Map[String, LayerStats], wallMs: Double, outsideMs: Double,
      gcMs: Long, failedTasks: Long)

  /** ("pkg.Object", method) of the innermost `graft.*` frame of a Spark
    * call-site long form, e.g. "graft.ops.ConsChain$.explodeD(ConsChain.scala:198)"
    * gives ("ops.ConsChain", "explodeD"). */
  def innermostGraftFrame(callSite: String): Option[(String, String)] =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")).map { line =>
      val qual = line.takeWhile(_ != '(')
      val cls = qual.substring(0, qual.lastIndexOf('.'))
      val method = qual.substring(qual.lastIndexOf('.') + 1).takeWhile(_ != '$')
      (cls.stripPrefix("graft.").takeWhile(_ != '$'), method)
    }
}
