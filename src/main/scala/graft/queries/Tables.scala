package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table scans and SQL fragments the query registries share. */
private[queries] object Tables {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select("doc_id", "text")

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
