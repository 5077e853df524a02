package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, regexp_replace, when}
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

  private val derivedDirs = scala.collection.mutable.Map.empty[(String, String), String]

  /** A corpus directory whose documents.parquet is `sfDir`'s rewritten by
    * `f`, written once per JVM under the fixture `name`.
    */
  private def derivedSfDir(sfDir: String, name: String)(f: DataFrame => DataFrame): String = synchronized {
    derivedDirs.getOrElseUpdate((sfDir, name), {
      val dir = Files.createTempDirectory(s"graft-$name-sf").toString
      f(spark.read.parquet(s"$sfDir/documents.parquet")).write.parquet(s"$dir/documents.parquet")
      dir
    })
  }

  /** A corpus directory with plural variants: the documents of `sfDir` with
    * each `pluralPairs` singular rewritten to its plural in the even
    * `doc_id`s, so the alias dictionary holds both forms and canonicalization
    * has edges (sf0.001 itself has no variant pair).
    */
  def pluralSfDir(sfDir: String): String = derivedSfDir(sfDir, "plural") { docs =>
    val even = col("doc_id") % 2 === 0
    docs.withColumn("text", pluralPairs.foldLeft(col("text")) { case (t, (s, p)) =>
      when(even, regexp_replace(t, s"\\b$s\\b", p)).otherwise(t)
    })
  }

  /** `sfDir`'s documents with a null `text` (the column is nullable) in
    * every doc whose `doc_id` is in `nullTextIds`.
    */
  def nullTextSfDir(sfDir: String): String = derivedSfDir(sfDir, "nulltext") { docs =>
    docs.withColumn("text", when(nullTextIds, lit(null).cast("string")).otherwise(col("text")))
  }

  /** The docs whose text `nullTextSfDir` nulls: every fifth. */
  val nullTextIds: Column = col("doc_id") % 5 === 0

  /** `sfDir`'s first `n` documents by `doc_id`. */
  def firstDocsSfDir(sfDir: String, n: Int): String = derivedSfDir(sfDir, s"first$n")(_.orderBy("doc_id").limit(n))

  /** `sfDir`'s documents table with no rows. */
  def emptySfDir(sfDir: String): String = derivedSfDir(sfDir, "empty")(_.limit(0))
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
