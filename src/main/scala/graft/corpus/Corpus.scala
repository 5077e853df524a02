package graft.corpus

import graft.model.{Doc, Span}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Builds the driver-mandated interleaved text+media document table
  * (input_hint: doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)
  * deterministically from the driver's `documents.parquet`, and a pure
  * in-memory variant for unit fixtures. Media spans are opaque payloads
  * interleaved between text spans; the extractor must pass them through
  * untouched (span-sequence invariant).
  */
object Corpus {

  val mediaKinds: IndexedSeq[String] = IndexedSeq("image", "audio", "video", "table")

  /** Sentence segmentation: fixed-width windows over the whitespace tokens.
    * The source text is pre-tokenized word salad (like the reference's
    * en.tok.txt, wiki2sdp.py:298), so windows stand in for sentences.
    */
  val sentenceTokens = 12

  /** Pure, deterministic doc assembly from (id, text) — shared by the Spark
    * path and the single-node reference-semantics fixture path so both sides
    * of the differential test see identical inputs. A null text (the column
    * is nullable) is a doc without spans.
    */
  def buildDoc(id: Long, text: String): Doc = {
    val words = if (text == null) Array.empty[String] else text.split(" ").filter(_.nonEmpty)
    val sents = words.grouped(sentenceTokens).map(_.mkString(" ")).toArray
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    var off = 0
    var i = 0
    while (i < sents.length) {
      spans += Span("text", sents(i), "", off)
      off += 1
      // deterministically interleave media spans between text spans
      if (math.floorMod(id * 31 + i, 3) == 0) {
        val kind = mediaKinds(math.floorMod(id + i, mediaKinds.length).toInt)
        spans += Span(kind, "", f"m://${math.floorMod(id * 1000003L + i * 7919L, 1L << 40)}%x", off)
        off += 1
      }
      i += 1
    }
    Doc(f"d$id%09d", spans.toArray)
  }

  /** The corpus' documents.parquet as raw (doc_id, text) rows, spread over
    * the cluster.
    *
    * The test corpus arrives as ONE parquet file (= one input split); without
    * spreading the base rows first, every downstream per-doc stage —
    * annotation, SDP assembly, model scoring — would run in a single task no
    * matter the cluster size. A real corpus arrives in thousands of files,
    * so the cheap base-row shuffle here reproduces that layout.
    */
  def rawDocuments(spark: SparkSession, sfDir: String): Dataset[(Long, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .as[(Long, String)]
      .repartition(spark.sparkContext.defaultParallelism)
  }

  /** Interleaved-doc table from the corpus' documents.parquet. */
  def fromDocuments(spark: SparkSession, sfDir: String): Dataset[Doc] = {
    import spark.implicits._
    rawDocuments(spark, sfDir).map { case (id, text) => buildDoc(id, text) }
  }
}
