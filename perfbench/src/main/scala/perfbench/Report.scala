package perfbench

/** Per-layer figures of one traced rep. Wall times come from partitioning
  * the traced window among job classes (`Layers.timeline`), so the layers'
  * wall plus the driver gap add up to the window; resource figures are sums
  * over the completed stages of each class's jobs.
  */
object Report {

  final case class Result(metrics: Seq[(String, String, Double)], unmapped: Seq[JobRec])

  /** The durable stages, named here so the report keeps its keys if the
    * program renames them.
    */
  val durableStages: Seq[String] = Seq(
    "candidates", "triples", "alias_dict", "linked_triples", "entity_canon", "canonical_triples")

  /** Every per-layer metric with its unit, in report order. */
  val units: Seq[(String, String)] = Seq(
    "corpus.wall_s" -> "s", "corpus.read_mb" -> "MB", "corpus.rows" -> "rows",
    "extract.wall_s" -> "s", "extract.cpu_s" -> "s", "extract.gc_s" -> "s",
    "extract.rows_out" -> "rows", "extract.task_skew" -> "ratio",
    "pipeline.pairs_wall_s" -> "s", "pipeline.pairs_rows" -> "rows",
    "pipeline.pairs_shuffle_mb" -> "MB", "pipeline.gate_wall_s" -> "s",
    "pipeline.gate_kept_frac" -> "fraction", "pipeline.jobs" -> "count",
    "pipeline.driver_gap_s" -> "s", "pipeline.core_busy_frac" -> "fraction",
    "pipeline.gc_s" -> "s",
    "link.dict_wall_s" -> "s", "link.dict_rows" -> "rows", "link.join_wall_s" -> "s",
    "link.join_shuffle_mb" -> "MB", "link.join_task_skew" -> "ratio",
    "link.hit_frac" -> "fraction",
    "canon.wall_s" -> "s", "canon.rounds" -> "count", "canon.round_s_median" -> "s",
    "canon.edges" -> "rows", "canon.driver_gap_s" -> "s",
    "tableio.wall_s" -> "s", "tableio.commit_s" -> "s", "tableio.commits" -> "count", "tableio.written_mb" -> "MB",
    "tableio.read_s" -> "s", "tableio.stored_mb" -> "MB") ++
    durableStages.map(s => s"ckpt.stage_s.$s" -> "s") ++ Seq(
    "ckpt.wall_s" -> "s", "ckpt.lineage_s" -> "s", "ckpt.resume_s" -> "s", "ckpt.resume_skipped_stages" -> "count",
    "trace.rep_wall_s" -> "s", "trace.accounted_frac" -> "fraction", "trace_overhead" -> "fraction")

  /** JSON number with all its digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def median(xs: Seq[Double]) = Main.median(xs)

  def perLayer(t: TraceData, spans: Seq[Span], runDir: Option[String], cores: Int,
               counts: Map[String, Double]): Result = {
    val window = spans.find(s => s.name == "rep" || s.name == "run").get
    val inWindow = (from: Long, to: Long) => t.jobs.filter(j => j.start >= from && j.start <= to)
    val classified = Layers.classify(t, inWindow(window.start, window.end), runDir)
    val unmapped = classified.collect { case (j, None) => j }
    val mapped = classified.collect { case (j, Some(c)) => (j, c) }
    val (wall, gap, gapBefore) = Layers.timeline(mapped, window.start, window.end)
    def wallS(c: String) = wall.getOrElse(c, 0L) / 1e3

    // each completed stage belongs to the first job that ran it
    val owner: Map[Int, (JobRec, String)] = mapped.sortBy(-_._1.id)
      .flatMap { case (j, c) => j.stageIds.map(_ -> (j, c)) }.toMap
    val owned = t.stages.values.filter(s => owner.contains(s.id)).toSeq
    def stagesWhere(p: (JobRec, String) => Boolean) =
      owned.filter(s => p(owner(s.id)._1, owner(s.id)._2))
    def stagesOf(c: String) = stagesWhere((_, k) => k == c)
    def mb(xs: Seq[StageRec], f: StageRec => Long) = xs.map(f).sum / 1e6
    def longestSkew(xs: Seq[StageRec]) = xs.maxByOption(_.runMs).map(_.skew).getOrElse(1.0)

    val durable = runDir.isDefined
    val docsStages =
      if (durable) stagesOf("corpus") else stagesOf("extract").filter(_.scansFiles)
    val extract = stagesOf("extract")
    val pairs = stagesWhere((j, c) => j.group.contains("pipeline") &&
      (c == "pipeline.pairs" || c == "extract"))
    val output =
      if (durable) stagesOf("link.join") else stagesWhere((j, _) => j.group.contains("output"))

    // connected components: one SQL execution for the edge checkpoint, then
    // one per round
    val ccExecs = mapped.filter(_._2 == "canon").flatMap(x => Layers.rootExec(t, x._1)).distinct
      .filter(e => Layers.userFrame(e.details).exists(_._2 == "ConnectedComponents.scala"))
      .sortBy(_.start)
    val edgeStages = ccExecs.headOption.toSeq.flatMap(e =>
      mapped.filter(x => Layers.rootExec(t, x._1).contains(e)).flatMap(_._1.stageIds))
      .flatMap(t.stages.get).filter(_.shWRecs > 0)

    // durable writes: every TableIO commit under the run directory
    val writes = runDir.toSeq.flatMap { d =>
      mapped.flatMap(x => Layers.rootExec(t, x._1)).distinct
        .flatMap(e => Layers.writeTable(e.plan, d).map(_ -> e))
    }
    def writeS(p: String => Boolean) = writes.filter(w => p(w._1)).map(w => w._2.end - w._2.start).sum / 1e3

    // the resume window: which stages it recomputed
    val resumed = spans.find(_.name == "resume").toSeq.flatMap { r =>
      runDir.toSeq.flatMap { d =>
        inWindow(r.start, r.end).flatMap(j => Layers.rootExec(t, j)).distinct
          .flatMap(e => Layers.writeTable(e.plan, d)).filter(durableStages.contains).distinct
      }
    }

    val allStages = owned
    val windowMs = (window.end - window.start).toDouble
    val m = Map[String, Double](
      "corpus.wall_s" -> wallS("corpus"),
      "corpus.read_mb" -> mb(docsStages, _.inBytes),
      "corpus.rows" -> docsStages.map(_.inRecs).sum.toDouble,
      "extract.wall_s" -> wallS("extract"),
      "extract.cpu_s" -> extract.map(_.cpuMs).sum / 1e3,
      "extract.gc_s" -> extract.map(_.gcMs).sum / 1e3,
      "extract.task_skew" -> longestSkew(extract),
      "pipeline.pairs_wall_s" -> wallS("pipeline.pairs"),
      "pipeline.pairs_rows" -> pairs.map(_.shWRecs).sum.toDouble,
      "pipeline.pairs_shuffle_mb" -> mb(pairs, _.shWBytes),
      "pipeline.gate_wall_s" -> wallS("pipeline.gate"),
      "pipeline.jobs" -> mapped.size.toDouble,
      "pipeline.driver_gap_s" -> gap / 1e3,
      "pipeline.core_busy_frac" -> allStages.map(_.runMs).sum / (windowMs * cores),
      "pipeline.gc_s" -> allStages.map(_.gcMs).sum / 1e3,
      "link.dict_wall_s" -> wallS("link.dict"),
      "link.dict_rows" -> stagesOf("link.dict").map(_.shWRecs).maxOption.getOrElse(0L).toDouble,
      "link.join_wall_s" -> wallS("link.join"),
      "link.join_shuffle_mb" -> mb(output, _.shWBytes),
      "link.join_task_skew" -> longestSkew(output),
      "canon.wall_s" -> wallS("canon"),
      "canon.rounds" -> math.max(0, ccExecs.size - 1).toDouble,
      "canon.round_s_median" -> median(ccExecs.drop(1).map(e => (e.end - e.start) / 1e3)),
      "canon.edges" -> edgeStages.map(_.shWRecs).minOption.getOrElse(0L).toDouble,
      "canon.driver_gap_s" -> gapBefore.getOrElse("canon", 0L) / 1e3,
      "tableio.wall_s" -> wallS("tableio"),
      "ckpt.wall_s" -> wallS("ckpt"),
      "tableio.commit_s" -> writeS(_ => true),
      "tableio.commits" -> writes.size.toDouble,
      "tableio.written_mb" -> mb(allStages, _.outBytes),
      "tableio.read_s" ->
        (if (durable) allStages.filter(s => s.scansFiles && !docsStages.contains(s)).map(_.wallMs).sum / 1e3
         else 0.0),
      "ckpt.lineage_s" -> writeS(s => s.endsWith("__lineage") || s == "__metrics"),
      "ckpt.resume_skipped_stages" ->
        (if (durable) (durableStages.size - resumed.size).toDouble else 0.0),
      "trace.rep_wall_s" -> windowMs / 1e3,
      "trace.accounted_frac" -> (wall.values.sum + gap) / windowMs) ++
      durableStages.map(s => s"ckpt.stage_s.$s" -> writeS(_ == s)) ++ counts

    Result(units.map { case (n, u) => (n, u, m.getOrElse(n, 0.0)) }, unmapped)
  }

  def zeros: Seq[(String, String, Double)] = units.map { case (n, u) => (n, u, 0.0) }
}
