package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, regexp_replace, when}
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

  /** The singular/plural pairs of `pluralSfDir`. */
  val pluralPairs: Seq[(String, String)] = Seq("spark" -> "sparks", "vector" -> "vectors")

  private val pluralDirs = scala.collection.mutable.Map.empty[String, String]

  /** A corpus directory with plural variants: the documents of `sfDir` with
    * each `pluralPairs` singular rewritten to its plural in the even
    * `doc_id`s, so the alias dictionary holds both forms and canonicalization
    * has edges (sf0.001 itself has no variant pair). Written once per JVM.
    */
  def pluralSfDir(sfDir: String): String = synchronized {
    pluralDirs.getOrElseUpdate(sfDir, {
      val dir = Files.createTempDirectory("graft-plural-sf").toString
      val even = col("doc_id") % 2 === 0
      val text = pluralPairs.foldLeft(col("text")) { case (t, (s, p)) =>
        when(even, regexp_replace(t, s"\\b$s\\b", p)).otherwise(t)
      }
      spark.read.parquet(s"$sfDir/documents.parquet").withColumn("text", text)
        .write.parquet(s"$dir/documents.parquet")
      dir
    })
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  /** sf0.001 with plural variants (`TestSpark.pluralSfDir`). */
  def pluralSfDir: String = TestSpark.pluralSfDir(sfDir)

  /** The corpus as the `(doc_id, text)` rows the fused extraction reads. */
  def rawDocs: Dataset[(Long, String)] = rawDocs(sfDir)

  def rawDocs(dir: String): Dataset[(Long, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text")).as[(Long, String)]
  }

  /** Rows as a sorted sequence: equality is multiset equality, so a lost or
    * duplicated row fails where a `Set` compare would not.
    */
  def sortedRows(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq
}
