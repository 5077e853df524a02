package perfbench

import graft.ckpt.StageLog
import graft.extract.Extract
import graft.link.Linking
import graft.pipeline.KgPipeline
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Benchmark-side spans: each call into the program runs under a job group
  * named after its span, so the listener can tell which call a job served.
  */
final class Spans(spark: SparkSession) {
  val recorded = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]

  def apply[T](name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val parent = stack.headOption
    stack = name :: stack
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      recorded += Span(name, parent, t0, System.currentTimeMillis())
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p, p, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }
}

/** One timed unit of a workload. `seconds` is the timed part net of
  * hypervisor steal (`Clock.time`), `wallSeconds` the same as measured;
  * `resumeSeconds` (net of steal) is set only by the durable workload. `ok`
  * says whether the output fingerprint `fp` matched its reference.
  */
final case class Rep(seconds: Double, wallSeconds: Double, fp: Fingerprint, ok: Boolean,
                     resumeSeconds: Option[Double] = None, storedBytes: Long = 0L)

trait Workload {
  /** Generate the inputs from `seed` into `dir`; returns a line of row counts. */
  def setup(dir: Path): String
  /** Once after set-up: reference outputs and counts. */
  def prepare(spans: Spans): String
  /** Untimed full-size reps between `prepare` and the timed reps. A fixed
    * count, so every run times the same stretch of the JVM's warm-up curve.
    */
  def warmupReps: Int
  /** A warm rep's length on four cores. Runs time `--seconds` worth of reps
    * at this length, a count that does not depend on how fast the host is
    * at the moment, so every run times the same stretch of the warm-up curve.
    */
  def nominalRepSeconds: Double
  def rep(spans: Spans, idx: Int): Rep
  /** Figures the per-layer report needs that only the program's outputs give. */
  def layerCounts: Map[String, Double]
  /** The durable run directory of the last rep, for write attribution. */
  def runDir: Option[String] = None
}

object Workloads {

  def names: Seq[String] = Seq("inmem-heaps", "durable-zipf")

  /** `scale` shrinks the corpora (tests use a small fraction). */
  def apply(name: String, spark: SparkSession, seed: Long, cores: Int, work: Path,
            scale: Double = 1.0): Workload = {
    def scaled(n: Long) = math.max(1L, (n * scale).toLong)
    name match {
      case "inmem-heaps" => new InMemory(spark, seed, cores, scaled(HeapsBase) * HeapsRepl)
      case "durable-zipf" =>
        new Durable(spark, seed, cores, work, scaled(ZipfDocs), scaled(ZipfSurfaces).toInt)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
    }
  }

  // Sizes keep a warm rep near three seconds (inmem-heaps) and twelve
  // (durable-zipf's full run) on four cores, so a run with its cold start
  // stays within a minute or so. The durable path's time is almost all
  // per-stage and per-commit overhead at this size.
  val HeapsBase = 1250L
  val HeapsRepl = 16
  val ZipfDocs = 1000L
  val ZipfSurfaces = 1500L

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  private def writeTable(docs: Dataset[(Long, String)], dir: Path): Long = {
    docs.write.mode("overwrite").parquet(dir.toString)
    docs.sparkSession.read.parquet(dir.toString).count()
  }

  /** `canonicalTriplesInMemory` on its default broadcast path over a
    * Heaps-replicated corpus, materialized by the fingerprint.
    */
  final class InMemory(spark: SparkSession, seed: Long, cores: Int, docs: Long) extends Workload {
    val warmupReps = 3
    val nominalRepSeconds = 3.0
    private var input: Dataset[(Long, String)] = _
    private var first: Option[Fingerprint] = None

    def setup(dir: Path): String = {
      val s = seed // a local, so the generator closure does not capture this workload
      val n = writeTable(Gen.table(spark, docs, cores * 4)(id => Gen.heapsDoc(s, HeapsRepl, id)), dir)
      import spark.implicits._
      input = spark.read.parquet(dir.toString).as[(Long, String)]
      s"docs=$n"
    }

    def prepare(spans: Spans): String = ""

    def rep(spans: Spans, idx: Int): Rep = {
      val (fp, wall, sec) = Clock.time(spans("rep") {
        val out = spans("pipeline")(KgPipeline.canonicalTriplesInMemory(input))
        spans("output")(Fingerprint.of(out))
      })
      if (first.isEmpty) first = Some(fp)
      Rep(sec, wall, fp, first.contains(fp) && fp.rows > 0)
    }

    /** Counts the kernel's output with one extra untimed pass. */
    def layerCounts: Map[String, Double] = {
      val kernelRows = Extract.triplesFused(input).count()
      val out = first.map(_.rows.toDouble).getOrElse(0.0)
      val kept = if (kernelRows > 0) out / kernelRows else 0.0
      // the in-memory path gates and links in one inner join, so the kept and
      // the hit share are the same figure
      Map("extract.rows_out" -> kernelRows.toDouble, "pipeline.gate_kept_frac" -> kept,
        "link.hit_frac" -> kept)
    }
  }

  /** `KgPipeline.run` over a Zipf corpus into a fresh run directory, with
    * both entity joins on the salted path; then a resume after the stages
    * from `linked_triples` on are deleted. Set-up also runs the default
    * broadcast path once: every salted rep must reproduce its output.
    *
    * The exploded dictionary of this small corpus is far below Spark's
    * automatic broadcast threshold, so the salted joins run as broadcast
    * joins on the (alias, salt) key: the salt and the ×16 explode are
    * measured, a shuffle of the skewed stream is not. Lowering the threshold
    * to force the shuffle nearly doubles the rep time, which the run budget does
    * not allow.
    */
  final class Durable(spark: SparkSession, seed: Long, cores: Int, work: Path, docs: Long,
                      surfaces: Int) extends Workload {
    val warmupReps = 0 // the broadcast reference run in `prepare` warms the JVM
    val nominalRepSeconds = 12.0
    private val zipf = Gen.zipf(seed, surfaces)
    private var sfDir: Path = _
    private var reference: Option[Fingerprint] = None
    private var lastRun: Option[String] = None
    private var counts = Map.empty[String, Double]

    /** What the resume recomputes: the stages after the alias dictionary. */
    val dropped: Seq[String] = Seq("linked_triples", "entity_canon", "canonical_triples")

    def setup(dir: Path): String = {
      val (s, z) = (seed, zipf) // locals, so the generator closure does not capture this workload
      val n = writeTable(Gen.table(spark, docs, cores * 4)(id => Gen.zipfDoc(s, z, id)),
        dir.resolve("documents.parquet"))
      sfDir = dir
      s"docs=$n surfaces=${zipf.surfaces.length}"
    }

    /** The broadcast path's output, computed once (this first full run also
      * warms the JVM).
      */
    def prepare(spans: Spans): String = {
      val dir = work.resolve("reference")
      val fp = spans("reference")(Fingerprint.of(KgPipeline.run(spark, sfDir.toString, dir.toString)))
      reference = Some(fp)
      counts = stageCounts(dir.toString)
      deleteTree(dir)
      f"broadcast_reference=[$fp] dict_rows=${counts("link.dict_rows")}%.0f " +
        f"head_mention_share=${counts("head_share")}%.3f"
    }

    override def runDir: Option[String] = lastRun

    private def runSalted(spans: Spans, span: String, dir: Path) =
      spans(span)(KgPipeline.run(spark, sfDir.toString, dir.toString, broadcastMaxDictRows = 0L))

    def rep(spans: Spans, idx: Int): Rep = {
      cleanup()
      val dir = work.resolve(s"run-$idx")
      lastRun = Some(dir.toString)
      val (full, wall, sec) = Clock.time(runSalted(spans, "run", dir))
      val fp = spans("check")(Fingerprint.of(full))
      val stored = bytesUnder(dir)
      (dropped.flatMap(s => Seq(s, s"${s}__lineage", s"__metrics/$s")) :+ "cc")
        .foreach(s => deleteTree(dir.resolve(s)))
      val (resumed, _, resumeSec) = Clock.time(runSalted(spans, "resume", dir))
      val fpResumed = spans("check")(Fingerprint.of(resumed))
      Rep(sec, wall, fp, reference.contains(fp) && fpResumed == fp && fp.rows > 0, Some(resumeSec), stored)
    }

    /** Rows per committed stage (StageLog metrics), the linking hit share and
      * the Zipf head's share of triple endpoints.
      */
    private def stageCounts(runDir: String): Map[String, Double] = {
      val log = new StageLog(spark, runDir)
      val rows = log.metrics(KgPipeline.stages).collect()
        .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
      val linked = log.runStage("linked_triples")(sys.error("not committed"))
      val hits = linked.agg(avg(((col("subj_id") =!= Linking.OovEntityId) &&
        (col("obj_id") =!= Linking.OovEntityId)).cast("double"))).first().getDouble(0)
      val head = zipf.surfaces(0)
      val headShare = linked.agg(avg(((col("subj") === head || col("subj") === head + "s").cast("double") +
        (col("obj") === head || col("obj") === head + "s").cast("double")) / 2)).first().getDouble(0)
      val cands = rows.getOrElse("candidates", 0.0)
      Map("extract.rows_out" -> cands,
        "pipeline.gate_kept_frac" -> (if (cands > 0) rows.getOrElse("triples", 0.0) / cands else 0.0),
        "link.dict_rows" -> rows.getOrElse("alias_dict", 0.0),
        "link.hit_frac" -> hits, "head_share" -> headShare)
    }

    def layerCounts: Map[String, Double] = counts

    private def cleanup(): Unit = lastRun.foreach(d => deleteTree(Paths.get(d)))
  }
}
