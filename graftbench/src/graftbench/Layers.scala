package graftbench

/** The per-layer metric set: the same names for every workload (a layer a
  * workload never enters reads 0 there). */
object Layers {
  /** Layers that get the standard span set. */
  val Spanned = Seq("spatial.SpatialJoin", "spatial.HexGrid", "spatial.Dbscan", "ops.Adjacency",
    "ops.UrlOps", "sources.Pages", "spatial.S2Grid", "dedup.Dedup", "ops.ConsChain",
    "ops.MoveAddress", "ops.ParcelOps", "sources.OsmOut", "pipeline.CheckpointedPipeline")
  /** Orchestrators: only their own driver-side self time. */
  val Orchestrators = Seq("pipeline.AppRun", "pipeline.GeoPipeline")
  /** The runMulti stages that ConsChain computes, by step name. */
  val ConsSteps = Seq("removeOutsideParts", "explode", "deleteInvalid", "topology",
    "mergeParts", "simplify", "deleteSmall")
  /** Probe metrics a workload may supply (0 elsewhere). */
  val Probes = Seq(
    "spatial.SpatialJoin.useful_ratio" -> "ratio",
    "functions.PointInPolygonExpr.codegen_rows_per_s" -> "rows/s",
    "functions.PointInPolygonExpr.interp_rows_per_s" -> "rows/s",
    "geom.Geom.pip_ns" -> "ns",
    "spatial.Dbscan.useful_ratio" -> "ratio",
    "dedup.Dedup.useful_ratio" -> "ratio",
    "dedup.Dedup.recall" -> "ratio")

  def metrics(sum: Trace.Summary, w: Workload, resumes: Seq[Double], untracedRate: Double,
      tracedRate: Double, peakHeapMb: Double, calibStart: Double, calibEnd: Double,
      probes: Map[String, Double]): Seq[(String, Double, String)] = {
    val none = new Trace.LayerStats
    def st(l: String) = sum.layers.getOrElse(l, none)
    val std = for (l <- Spanned) yield {
      val s = st(l)
      Seq((s"$l.self_s", s.selfMs / 1e3, "s"),
        (s"$l.cpu_s", s.cpuNs / 1e9, "s"),
        (s"$l.offcpu_s", math.max(0.0, s.runMs / 1e3 - s.cpuNs / 1e9), "s"),
        (s"$l.jobs", s.jobs.toDouble, "count"),
        (s"$l.shuffle_mb", s.shuffleBytes / 1048576.0, "MB"),
        (s"$l.spill_mb", s.spillBytes / 1048576.0, "MB"),
        (s"$l.task_skew", s.skew, "ratio"))
    }
    val orch = Orchestrators.map(l => (s"$l.self_s", st(l).selfMs / 1e3, "s"))
    val steps = ConsSteps.map(k =>
      (s"ops.ConsChain.$k.self_s", st("ops.ConsChain").selfByStep.getOrElse(k, 0.0) / 1e3, "s"))
    val ck = st("pipeline.CheckpointedPipeline")
    val benchSelf = sum.layers.collect { case (l, s) if l == "bench" => s.selfMs }.sum
    val freshOutBytes = sum.layers.values.map(_.outBytesByRoot.getOrElse("fresh", 0L)).sum
    val extra = Seq(
      ("pipeline.CheckpointedPipeline.write_s", ck.selfByRoot.getOrElse("fresh", 0.0) / 1e3, "s"),
      ("pipeline.CheckpointedPipeline.read_s", ck.selfByRoot.getOrElse("resume", 0.0) / 1e3, "s"),
      ("pipeline.CheckpointedPipeline.write_mb_per_input_mb",
        if (w.inputMb > 0) freshOutBytes / 1048576.0 / w.inputMb else 0.0, "ratio"),
      ("pipeline.CheckpointedPipeline.stages_computed", w.stageCounts._1.toDouble, "count"),
      ("pipeline.CheckpointedPipeline.resume_stages_computed", w.stageCounts._2.toDouble, "count"),
      ("spark.gc_s", sum.gcMs / 1e3, "s"),
      ("spark.failed_tasks", sum.failedTasks.toDouble, "count"),
      ("bench.traced_wall_s", sum.wallMs / 1e3, "s"),
      ("bench.remainder_s", benchSelf / 1e3, "s"),
      ("bench.unattributed_s", sum.outsideMs / 1e3, "s"),
      ("bench.untraced_rows_per_s", untracedRate, "rows/s"),
      ("bench.traced_rows_per_s", tracedRate, "rows/s"),
      ("bench.tracing_overhead", 1.0 - tracedRate / untracedRate, "fraction"),
      ("bench.resume_s", if (resumes.isEmpty) 0.0 else Main.median(resumes), "s"),
      ("bench.peak_heap_mb", peakHeapMb, "MB"),
      ("bench.calib_start_brow_s", calibStart / 1e9, "Brow/s"),
      ("bench.calib_end_brow_s", calibEnd / 1e9, "Brow/s"))
    val pr = Probes.map { case (k, u) => (k, probes.getOrElse(k, 0.0), u) }
    std.flatten ++ orch ++ steps ++ extra ++ pr
  }
}
