package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --cores <n>`. Prints diagnostics to stderr and, as the last
  * stdout line, one JSON object with the end-to-end metrics (trace 0) or the
  * per-layer metrics (trace 1).
  *
  * Closed loop, one client: one rep at a time, each rep one job of the
  * program. Timing starts after set-up and a fixed warm-up.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, cores: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, need("cores").toInt)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // blocks are freed between reps by `fence`, not by GC-driven cleanup
      // during a rep, so storage_peak_mb does not depend on GC timing
      .config("spark.cleaner.referenceTracking", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Polls storage memory in use while a rep runs; `peak` is its maximum. */
  final class StorageSampler extends Thread("perfbench-storage-sampler") {
    setDaemon(true)
    val peak = new AtomicLong(0L)
    @volatile private var running = true
    override def run(): Unit = while (running) {
      peak.accumulateAndGet(SparkInternals.storageMemoryUsed(), math.max)
      Thread.sleep(2)
    }
    def finish(): Long = { running = false; join(); peak.get }
  }

  /** Between reps, outside every timed window: drop cached, checkpointed and
    * broadcast blocks so each rep recomputes everything from the same empty
    * storage, and pay GC debt now.
    */
  def fence(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    SparkInternals.dropBroadcasts()
    System.gc()
    SparkInternals.drainListenerBus(spark.sparkContext)
  }

  final case class Measured(rep: Rep, shuffleBytes: Long, storagePeak: Long, cpuSeconds: Double)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val spark = session(o.cores, o.work)
    val exit = try run(o, spark) finally spark.stop()
    sys.exit(exit)
  }

  def run(o: Opts, spark: SparkSession): Int = {
    val sc = spark.sparkContext
    val light = new Recorder(traced = false)
    sc.addSparkListener(light)
    val w = Workloads(o.workload, spark, o.seed, o.cores, o.work)
    val spans = new Spans(spark)
    var attempted = 0
    var failed = 0
    var fatal = Option.empty[String]

    // set-up: generate the inputs three times, report the median (net of
    // steal, like the reps); the last copy is the one the reps read
    val setupSecs = (0 until 3).map { i =>
      val dir = o.work.resolve(s"input-$i")
      val (line, wall, s) = Clock.time(w.setup(dir))
      log(f"setup $i: $s%.3fs (wall $wall%.3fs) $line")
      if (i < 2) Workloads.deleteTree(dir)
      s
    }
    val t0 = System.nanoTime()
    log(s"prepare: ${w.prepare(spans)} (${(System.nanoTime() - t0) / 1e6} ms)")
    fence(spark)

    def measure(recorder: Option[Recorder]): Option[Measured] = {
      attempted += 1
      light.reset()
      recorder.foreach(_.reset())
      val sampler = new StorageSampler
      sampler.start()
      val cpu0 = os.getProcessCpuTime
      val rep =
        try Some(w.rep(spans, attempted))
        catch {
          case e: Exception =>
            fatal = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
            log(s"rep $attempted failed: ${fatal.get}")
            None
        }
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val peak = sampler.finish()
      SparkInternals.drainListenerBus(sc)
      val shuffle = light.snapshot().stages.values.map(_.shWBytes).sum
      rep.foreach(r => if (!r.ok) log(s"rep $attempted output mismatch: ${r.fp}"))
      if (rep.forall(!_.ok)) failed += 1
      rep.map(r => Measured(r, shuffle, peak, cpu))
    }

    def logRep(kind: String, m: Measured): Unit =
      log(f"$kind rep $attempted: ${m.rep.seconds}%.3fs (wall ${m.rep.wallSeconds}%.3fs) cpu=${m.cpuSeconds}%.2fs" +
        m.rep.resumeSeconds.fold("")(r => f" resume=$r%.3fs") +
        f" shuffle=${m.shuffleBytes / 1e6}%.2fMB storage_peak=${m.storagePeak / 1e6}%.2fMB ${m.rep.fp}")

    // warm-up: a fixed number of reps; the log shows how close the last two were
    val warm = (1 to w.warmupReps).flatMap { _ =>
      val m = measure(None)
      m.foreach(logRep("warm-up", _))
      fence(spark)
      m.map(_.rep.seconds)
    }
    if (warm.length >= 2)
      log(f"warm-up: last two reps differ by ${math.abs(warm.last / warm(warm.length - 2) - 1) * 100}%.1f%%")

    // timed reps: --seconds worth at the workload's nominal rep length
    def repsFor(seconds: Double) = math.max(1, math.round(seconds / w.nominalRepSeconds).toInt)
    val reps = scala.collection.mutable.ArrayBuffer.empty[Measured]
    for (_ <- 1 to repsFor(o.seconds) if fatal.isEmpty) {
      measure(None).foreach { m => logRep("timed", m); reps += m }
      fence(spark)
    }

    val triples = reps.headOption.map(_.rep.fp.rows).getOrElse(0L)
    val repSec = median(reps.map(_.rep.seconds).toSeq)
    val e2e = Seq(
      ("triples_per_s", "triples/s", if (repSec > 0) triples / repSec else 0.0),
      ("shuffle_write_mb", "MB", median(reps.map(_.shuffleBytes / 1e6).toSeq)),
      ("storage_peak_mb", "MB", median(reps.map(_.storagePeak / 1e6).toSeq)),
      ("setup_s", "s", median(setupSecs)))

    // traced reps are checked like every other rep (against the run's first
    // rep or the workload's reference), so a traced output that differs from
    // the untraced output fails the run
    var traceOk = true
    val metrics =
      if (!o.trace) e2e
      else {
        // traced reps alternate with untraced ones, half of --seconds worth (at
        // least one pair), so trace_overhead compares reps at the same point
        // of the JVM's warm-up
        val traced = new Recorder(traced = true)
        val runs = scala.collection.mutable.ArrayBuffer.empty[(Measured, TraceData, Vector[Span], Option[String])]
        val plain = scala.collection.mutable.ArrayBuffer.empty[Double]
        for (_ <- 1 to repsFor(o.seconds / 2) if fatal.isEmpty) {
          measure(None).foreach { m => logRep("untraced", m); plain += m.rep.seconds }
          fence(spark)
          val from = spans.recorded.length
          sc.addSparkListener(traced)
          val m = measure(Some(traced))
          sc.removeSparkListener(traced)
          m.foreach(logRep("traced", _))
          m.foreach(x => runs += ((x, traced.snapshot(), spans.recorded.drop(from).toVector, w.runDir)))
          fence(spark)
        }
        if (runs.isEmpty) Report.zeros
        else {
          val (m, data, sp, runDir) = runs.sortBy(_._1.rep.seconds).apply(runs.length / 2)
          val overhead = median(runs.map(_._1.rep.seconds).toSeq) / median(plain.toSeq) - 1
          val r = Report.perLayer(data, sp, runDir, o.cores, w.layerCounts ++ Map(
            "trace_overhead" -> overhead,
            "ckpt.resume_s" -> median(reps.flatMap(_.rep.resumeSeconds).toSeq),
            "tableio.stored_mb" -> median(reps.map(_.rep.storedBytes / 1e6).toSeq)))
          r.unmapped.foreach(j => log(s"unmapped job: $j"))
          traceOk = r.unmapped.isEmpty
          r.metrics
        }
      }

    val correct = fatal.isEmpty && failed == 0 && traceOk && reps.nonEmpty
    val body = metrics.map { case (n, u, v) =>
      s""""$n": {"value": ${Report.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(attempted, 1)}, "failed": $failed, "metrics": {$body}}""")
    0
  }
}
