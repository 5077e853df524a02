package perfbench

import org.apache.spark.perfbench.SparkInternals

/** Every job of a traced rep maps to exactly one layer, on every workload. */
class TraceSpec extends BenchSuite {

  private def tracedRep(name: String): (Report.Result, Map[String, Double]) = {
    val w = Workloads(name, spark, 11, cores, work.resolve(name), scale = 0.05)
    val rec = new Recorder(traced = true)
    spark.sparkContext.addSparkListener(rec)
    try {
      val spans = new Spans(spark)
      w.setup(work.resolve(s"$name-input"))
      w.prepare(spans)
      Main.fence(spark)
      rec.reset()
      val from = spans.recorded.length
      assert(w.rep(spans, 1).ok)
      SparkInternals.drainListenerBus(spark.sparkContext)
      val data = rec.snapshot()
      val r = Report.perLayer(data, spans.recorded.drop(from).toVector, w.runDir, cores, w.layerCounts)
      val window = spans.recorded.drop(from).find(s => s.name == "rep" || s.name == "run").get
      val jobs = data.jobs.filter(j => j.start >= window.start && j.start <= window.end)
      val classified = Layers.classify(data, jobs, w.runDir)
      assert(classified.map(_._1.id).sorted == jobs.map(_.id).sorted, "a job classified twice or not at all")
      (r, r.metrics.map(m => m._1 -> m._3).toMap)
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  for (name <- Workloads.names) test(s"$name: no unmapped job; layers and gap account for the rep") {
    val (r, m) = tracedRep(name)
    assert(r.unmapped.isEmpty, s"unmapped jobs: ${r.unmapped.mkString("\n")}")
    assert(math.abs(m("trace.accounted_frac") - 1.0) < 0.05)
    assert(m("extract.wall_s") > 0 && m("canon.rounds") >= 1)
    if (name == "durable-zipf") {
      assert(m("tableio.commits") >= 18, s"durable writes not attributed: $m")
      assert(Report.durableStages.forall(s => m(s"ckpt.stage_s.$s") > 0))
      assert(m("ckpt.resume_skipped_stages") == 3)
      assert(m("corpus.wall_s") > 0)
    } else assert(m("pipeline.pairs_wall_s") > 0 && m("link.dict_wall_s") > 0)
  }
}
