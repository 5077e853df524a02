package graft.ckpt

import graft.tableio.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-stage checkpoint/commit log with per-partition lineage + counter
  * metrics (north rule: "resumable from checkpoint with per-partition
  * lineage + metrics"; reference analogs: interval model checkpointing
  * relembed.py:745-757 and the GOOD/BAD `_records` audit counters
  * wiki_and_semeval2sdp.py:391-449,470-472).
  *
  * A stage = a named DataFrame computation materialized as a TableIO
  * snapshot under `<runDir>/<stage>`. `runStage` skips recomputation when the
  * stage already has a committed snapshot — so a killed job rerun resumes
  * after the last committed stage, idempotently (TableIO commits are atomic).
  * The audit trail lives in each stage's snapshot manifest: its row count
  * and rows per write task, taken from the committed files' Parquet footers.
  * `lineage` and `metrics` build their tables from those manifests on the
  * driver, so a stage commit costs one Spark job (the write) and the audit
  * costs none.
  */
class StageLog(spark: SparkSession, runDir: String) {

  def stagePath(stage: String) = s"$runDir/$stage"

  def isCommitted(stage: String): Boolean =
    TableIO.currentVersion(stagePath(stage)).isDefined

  /** The stage's committed snapshot manifest. */
  def snapshot(stage: String): TableIO.Snapshot = TableIO.current(stagePath(stage))

  /** Run (or resume) a stage. Returns the stage output read back from its
    * committed snapshot, so downstream stages always consume the durable
    * artifact — lineage is truncated at every stage boundary, the iterative-
    * job killer at scale.
    */
  def runStage(stage: String, partitionBy: Seq[String] = Nil)(compute: => DataFrame): DataFrame = {
    val path = stagePath(stage)
    if (!isCommitted(stage)) TableIO.commit(compute, path, partitionBy)
    TableIO.read(spark, path)
  }

  /** Per-partition lineage of the run: (stage, part_id, rows), one row per
    * write task that committed data. Fails, naming the stage, on a manifest
    * that predates per-task row counts.
    */
  def lineage(stages: Seq[String]): DataFrame =
    spark.createDataFrame(stages.flatMap { s =>
      val tasks = snapshot(s).taskRows.getOrElse(
        sys.error(s"stage $s: manifest has no per-task row counts; rerun the stage to rebuild its lineage"))
      tasks.toSeq.sorted.map { case (part, rows) => (s, part, rows) }
    }).toDF("stage", "part_id", "rows")

  /** Stage-level metrics: (stage, rows, version) per committed stage. */
  def metrics(stages: Seq[String]): DataFrame =
    spark.createDataFrame(stages.map { s => val snap = snapshot(s); (s, snap.rows, snap.version) })
      .toDF("stage", "rows", "version")
}
