package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, regexp_replace, when}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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

  /** Evaluates `body` and returns the starts of the Spark jobs it ran, in
    * start order. Listener events arrive asynchronously, so a tagged marker
    * job runs after `body`: once its start is seen, every earlier job start
    * has been seen too.
    */
  def jobsDuring[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val marker = s"marker-${System.nanoTime()}"
    def isMarker(e: SparkListenerJobStart) =
      Option(e.properties).exists(p => p.getProperty("graft.test.marker") == marker)
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty("graft.test.marker", marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.marker", null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!starts.asScala.exists(isMarker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(starts.asScala.exists(isMarker), "marker job start never reached the listener")
      (out, starts.asScala.toSeq.filterNot(isMarker))
    } finally sc.removeSparkListener(listener)
  }
}
