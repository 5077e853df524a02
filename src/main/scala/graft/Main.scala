package graft

import graft.pipeline.KgPipeline
import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the full KG-construction run:
  *
  *   spark-submit --class graft.Main <jar> <corpusDir> <runDir> [whitelistMinCount]
  *
  * No master/memory settings are hardcoded — cluster managers inject them —
  * so the same jar runs on local[N] or a multi-executor cluster. The run is
  * resumable: re-submitting with the same runDir continues after the last
  * committed stage (ckpt.StageLog); one committed from another corpus or
  * whitelistMinCount fails loudly before any job, naming stage and input.
  * The canonical triples it counts are a projection of the last stage,
  * `linked_triples` (partitioned by predicate), not a table of their own.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Main <corpusDir> <runDir> [whitelistMinCount]")
    val Array(corpusDir, runDir) = args.take(2)
    val minCount = if (args.length > 2) args(2).toLong else 3L
    val spark = SparkSession.builder()
      .appName("graft-kg-pipeline")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val triples = KgPipeline.run(spark, corpusDir, runDir, minCount)
    val n = triples.count()
    val stages = new graft.ckpt.StageLog(spark, runDir)
    println(s"[graft] run complete: $n canonical triples; stages committed: " +
      KgPipeline.stages.filter(stages.isCommitted).mkString(", "))
    spark.stop()
  }
}
