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
  * snapshot under `<runDir>/<stage>`, whose manifest records the stage's
  * `inputs`. `runStage` skips recomputation when the stage is committed from
  * the same inputs (the caller compares them first: `KgPipeline.run` checks
  * every stage with `TableIO.resumable` before its first job), so a
  * killed run resumes after its last committed stage, idempotently. The
  * audit trail is each manifest's row count and rows per write task;
  * `lineage` and `metrics` build their tables from the manifests on the
  * driver, so the audit costs no Spark job.
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
  def runStage(stage: String, partitionBy: Seq[String] = Nil, inputs: Map[String, String] = Map.empty)
              (compute: => DataFrame): DataFrame = {
    val path = stagePath(stage)
    if (!isCommitted(stage)) TableIO.commit(compute, path, partitionBy, inputs)
    TableIO.read(spark, path)
  }

  /** Per-partition lineage of the run: (stage, part_id, rows), one row per
    * write task that committed data.
    */
  def lineage(stages: Seq[String]): DataFrame =
    spark.createDataFrame(stages.flatMap { s =>
      snapshot(s).taskRows.toSeq.sorted.map { case (part, rows) => (s, part, rows) }
    }).toDF("stage", "part_id", "rows")

  /** Stage-level metrics: (stage, rows, version) per committed stage. */
  def metrics(stages: Seq[String]): DataFrame =
    spark.createDataFrame(stages.map { s => val snap = snapshot(s); (s, snap.rows, snap.version) })
      .toDF("stage", "rows", "version")
}
