package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** One completed stage. `scansFiles`: it reads a file source (Spark also
  * counts reads of cached and checkpointed blocks as input, so input records
  * alone do not say that).
  */
final case class StageRec(id: Int, start: Long, end: Long, runMs: Long, cpuMs: Double, gcMs: Long,
                          shWBytes: Long, shWRecs: Long, inBytes: Long, inRecs: Long,
                          outBytes: Long, scansFiles: Boolean, taskMs: Vector[Long]) {
  def wallMs: Long = end - start
  /** Slowest task over the median task: 1.0 is perfectly balanced. */
  def skew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.length / 2))
    }
}

final case class JobRec(id: Int, start: Long, end: Long, exec: Option[Long], group: Option[String],
                        stageIds: Seq[Int], site: String)

final case class ExecRec(id: Long, root: Long, start: Long, end: Long, details: String, plan: String)

/** A benchmark-side span around one call into the program. */
final case class Span(name: String, parent: Option[String], start: Long, end: Long)

/** Everything one traced window recorded, as plain data. */
final case class TraceData(stages: Map[Int, StageRec], jobs: Seq[JobRec], execs: Map[Long, ExecRec])

/** SparkListener owned by the benchmark. Untraced, it keeps only per-stage
  * totals (the shuffle bytes behind `shuffle_write_mb`); traced, it also
  * keeps task durations, jobs and SQL executions for layer attribution.
  * Listener callbacks run on Spark's listener-bus thread; the benchmark reads
  * a snapshot only after draining the bus.
  */
final class Recorder(val traced: Boolean) extends SparkListener {
  private val stages = mutable.Map.empty[Int, StageRec]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobStarts = mutable.Map.empty[Int, JobRec]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val execs = mutable.Map.empty[Long, ExecRec]

  def reset(): Unit = synchronized {
    stages.clear(); taskMs.clear(); jobStarts.clear(); jobs.clear(); execs.clear()
  }

  def snapshot(): TraceData = synchronized {
    TraceData(stages.toMap, jobs.toVector.sortBy(_.id), execs.toMap)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val tm = si.taskMetrics
    if (tm != null) {
      stages(si.stageId) = StageRec(si.stageId, si.submissionTime.getOrElse(0L),
        si.completionTime.getOrElse(0L), tm.executorRunTime, tm.executorCpuTime / 1e6,
        tm.jvmGCTime, tm.shuffleWriteMetrics.bytesWritten, tm.shuffleWriteMetrics.recordsWritten,
        tm.inputMetrics.bytesRead, tm.inputMetrics.recordsRead, tm.outputMetrics.bytesWritten,
        si.rddInfos.exists(_.name == "FileScanRDD"),
        taskMs.remove(si.stageId).map(_.toVector).getOrElse(Vector.empty))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) synchronized {
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobStarts(e.jobId) = JobRec(e.jobId, e.time, e.time,
      prop("spark.sql.execution.id").map(_.toLong), prop("spark.jobGroup.id"), e.stageIds, site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) synchronized {
    jobStarts.remove(e.jobId).foreach(j => jobs += j.copy(end = e.time))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (traced) e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = ExecRec(s.executionId,
        s.rootExecutionId.getOrElse(s.executionId), s.time, s.time, s.details,
        s.physicalPlanDescription)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(x => execs(s.executionId) = x.copy(end = s.time))
    }
    case _ =>
  }
}

/** Attribution of Spark jobs to the engine's layers, and the per-layer
  * figures of one traced window.
  *
  * A job belongs to the benchmark span (job group) that issued the public
  * call. Inside one public call (`canonicalTriplesInMemory`, `run`) it is
  * attributed by the source file of the innermost engine frame that started
  * its SQL execution, by the stage table a durable write commits, and by
  * whether it scans the documents. Every job gets exactly one class; a job
  * that fits none is reported as unmapped and fails the trace.
  */
object Layers {

  private val Frame = """^\s*([\w$.]+)\(([\w$-]+\.(?:scala|java)):\d+\)""".r
  private val Site = """ at ([\w$-]+\.(?:scala|java)):\d+""".r
  // the formatted plan lists the write node's arguments, output path first
  private val WritePath =
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+)""".r

  /** (class, file) of the innermost non-Spark frame of a long-form call site:
    * Spark puts the last Spark frame first, then the caller's frames.
    */
  def userFrame(details: String): Option[(String, String)] =
    details.split("\n").iterator.drop(1).collectFirst {
      case Frame(cls, file) => (cls, file)
    }

  def fileLayer(file: String): Option[String] = file match {
    case "ConnectedComponents.scala" => Some("canon")
    case "Linking.scala" | "Ranks.scala" => Some("link.dict")
    case "TableIO.scala" | "StageLog.scala" => Some("tableio")
    case "Corpus.scala" => Some("corpus")
    case "Extract.scala" | "FusedKernel.scala" | "Annotator.scala" | "Sdp.scala" => Some("extract")
    case _ => None
  }

  /** The table a write execution commits under `runDir`, if any. */
  def writeTable(plan: String, runDir: String): Option[String] = {
    val prefix = runDir.stripSuffix("/") + "/"
    WritePath.findFirstMatchIn(plan).map(_.group(1)).flatMap { path =>
      val i = path.indexOf(prefix)
      if (i < 0) None else Some(path.substring(i + prefix.length).takeWhile(_ != '/'))
    }
  }

  /** Layer of a durable write, by the table it commits. */
  def tableLayer(table: String): Option[String] = table match {
    case t if t.endsWith("__lineage") || t == "__metrics" => Some("ckpt")
    case "candidates" | "triples" => Some("extract")
    case "alias_dict" => Some("link.dict")
    case "linked_triples" | "canonical_triples" => Some("link.join")
    case "entity_canon" | "cc" => Some("canon")
    case _ => None
  }

  def rootExec(t: TraceData, j: JobRec): Option[ExecRec] =
    j.exec.flatMap(t.execs.get).map(e => t.execs.getOrElse(e.root, e))

  def scansFiles(t: TraceData, j: JobRec): Boolean =
    j.stageIds.exists(s => t.stages.get(s).exists(_.scansFiles))

  /** Class of every job in `jobs`; `None` = unmapped. `runDir` is set for
    * the durable path.
    */
  def classify(t: TraceData, jobs: Seq[JobRec], runDir: Option[String]): Seq[(JobRec, Option[String])] = {
    val inputExecs = jobs.filter(scansFiles(t, _)).flatMap(rootExec(t, _)).map(_.id).toSet
    jobs.map { j =>
      val ex = rootExec(t, j)
      val frame = ex.flatMap(e => userFrame(e.details))
      val file = frame.map(_._2).orElse(Site.findFirstMatchIn(j.site).map(_.group(1)))
      val fromBench = frame.exists(_._1.startsWith("perfbench."))
      val cls: Option[String] = j.group match {
        case Some("output") =>
          Some(if (scansFiles(t, j)) "extract" else "link.join")
        case Some("pipeline") if !fromBench => file match {
          case Some("KgPipeline.scala") =>
            if (ex.exists(e => inputExecs(e.id))) Some(if (scansFiles(t, j)) "extract" else "pipeline.pairs")
            else if (ex.exists(_.plan.contains("RangePartitioning"))) Some("link.dict")
            else Some("pipeline.gate")
          case Some(f) => fileLayer(f)
          case None => None
        }
        case Some("run" | "resume") if !fromBench && runDir.isDefined =>
          ex.flatMap(e => writeTable(e.plan, runDir.get)) match {
            // Corpus.fromDocuments scans and reshuffles the docs in a job of its own
            case Some("candidates") if scansFiles(t, j) => Some("corpus")
            case Some(table) => tableLayer(table)
            case None => file match {
              // the dictionary-size count that picks the join strategy
              case Some("KgPipeline.scala") => Some("link.dict")
              case Some(f) => fileLayer(f)
              case None => None
            }
          }
        case _ => None
      }
      (j, cls)
    }
  }

  /** Partition [w0, w1] among job classes: an instant with jobs running goes
    * to the class of the earliest-started running job, an instant with none is
    * driver gap. Returns (wall ms per class, gap ms, gap ms per class of the
    * job that follows the gap).
    */
  def timeline(jobs: Seq[(JobRec, String)], w0: Long, w1: Long)
      : (Map[String, Long], Long, Map[String, Long]) = {
    val iv = jobs.map { case (j, c) => (math.max(j.start, w0), math.min(j.end, w1), j.id, c) }
      .filter(x => x._2 > x._1)
    val cuts = (iv.flatMap(x => Seq(x._1, x._2)) ++ Seq(w0, w1)).distinct.sorted
    val wall = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val gapBefore = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var gap = 0L
    cuts.zip(cuts.tail).foreach { case (a, b) =>
      val active = iv.filter(x => x._1 <= a && x._2 >= b)
      if (active.isEmpty) {
        gap += b - a
        iv.filter(_._1 >= b).sortBy(x => (x._1, x._3)).headOption.foreach(x => gapBefore(x._4) += b - a)
      } else wall(active.minBy(x => (x._1, x._3))._4) += b - a
    }
    (wall.toMap, gap, gapBefore.toMap)
  }
}
