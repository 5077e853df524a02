package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  /** The corpus as the `(doc_id, text)` rows the fused extraction reads. */
  def rawDocs: Dataset[(Long, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"), col("text")).as[(Long, String)]
  }

  /** Rows as a sorted sequence: equality is multiset equality, so a lost or
    * duplicated row fails where a `Set` compare would not.
    */
  def sortedRows(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq
}
