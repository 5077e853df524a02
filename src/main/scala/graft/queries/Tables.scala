package graft.queries

import graft.corpus.Corpus
import graft.extract.Extract
import graft.model.{SdpCandidate, Sentence}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Table scans and SQL fragments the query registries share. */
private[queries] object Tables {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select("doc_id", "text")

  /** The corpus's documents parsed into sentences. */
  def sentences(s: SparkSession, dir: String): Dataset[Sentence] =
    Extract.docsToSentences(Corpus.fromDocuments(s, dir))

  /** The SDP candidates of the corpus: the composed candidate scan. */
  def candidates(s: SparkSession, dir: String): Dataset[SdpCandidate] =
    Extract.candidates(sentences(s, dir))

  /** The five-vector query set (q_id, embedding) of an (vec_id, embedding)
    * table: its vectors with vec_id < 5.
    */
  def firstFive(vecs: DataFrame): DataFrame =
    vecs.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding"))

  /** Tokens of the documents table with in-doc position — shared scan shape
    * for the vocab/text queries (A1 analog: explode + count,
    * semeval2sdp.py:188-209).
    */
  def tokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .filter(length(col("token")) > 0)

  /** Corpus frequency `(token, freq)` of every token of `tokens`. */
  def tokenFreq(s: SparkSession, dir: String): DataFrame =
    tokens(s, dir).groupBy("token").agg(count(lit(1)).as("freq"))

  /** The DuckDB side of `tokens`. */
  val tokensSql =
    """SELECT doc_id, unnest(string_split(text, ' ')) AS token,
      |generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      |FROM documents""".stripMargin.replace("\n", " ")

  /** DuckDB equivalent of Portable.md5num. */
  def md5numSql(e: String) =
    s"(('0x' || substring(md5($e), 1, 15))::BIGINT)"
}
