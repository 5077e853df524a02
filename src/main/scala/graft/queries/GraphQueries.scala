package graft.queries

import graft.canon.ConnectedComponents
import graft.link.Linking
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/** Linking + canonicalization operators with DuckDB oracles:
  *  - q11: salted dictionary join (skew path of J1) — oracle is the plain
  *    left join, proving salting is semantics-preserving;
  *  - q12: iterative connected-components canonicalization — oracle is a
  *    recursive CTE computing the same min-reachable-id labels.
  */
object GraphQueries {

  /** Edge table for canonicalization: a doc links its 4-token-prefix group
    * and its 4-token-suffix group (star edges to each group's min doc_id), so
    * components chain across groups — real transitive closure, not a groupBy.
    */
  private def dupEdges(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    // Spark's slice(toks, -4, 4) returns [] for arrays shorter than 4 while
    // DuckDB's toks[-4:] clamps to the whole list — guard so both engines
    // agree on short docs (latent divergence flagged in ADVICE.md)
    val keyed = docs
      .select(col("doc_id"), concat_ws(" ", slice(col("toks"), 1, 4)).as("k"))
      .union(docs.select(col("doc_id"),
        concat_ws(" ",
          when(size(col("toks")) >= 4, slice(col("toks"), -4, 4)).otherwise(col("toks"))).as("k")))
    keyed
      .withColumn("gmin", min("doc_id").over(Window.partitionBy("k")))
      .select(col("doc_id").as("src"), col("gmin").as("dst"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J1 skew path: salted repartition join == plain left join
    "q11_salted_join" -> ((s, dir) => {
      val vocab = graft.functions.Ranks.globalRowNumber(tokenFreq(s, dir),
        Seq(col("freq").desc, col("token").asc), "__rn")
        .withColumn("id", (col("__rn") - 1).cast("int"))
        .filter(col("id") < 10)
        .select(col("token").as("v_token"), col("id"))
      Linking
        .saltedLeftJoin(tokens(s, dir), vocab, "token", "v_token",
          Seq("doc_id", "pos"), buckets = 8)
        .select(col("doc_id"), col("pos"), col("token"),
          coalesce(col("id"), lit(10)).as("token_id"))
    }),

    // north-rule canonicalizer: iterative DataFrame self-join w/ checkpointing
    "q12_connected_components" -> ((s, dir) =>
      ConnectedComponents.run(dupEdges(s, dir))
        .select(col("id").as("doc_id"), col("component"))))

  val oracles: Map[String, String] = Map(
    "q11_salted_join" ->
      s"""WITH toks AS ($tokensSql),
         |vocab AS (SELECT * FROM (
         |  SELECT token AS v_token, count(*) AS freq,
         |  row_number() OVER (ORDER BY count(*) DESC, token ASC) - 1 AS id
         |  FROM toks GROUP BY token) WHERE id < 10)
         |SELECT t.doc_id, t.pos, t.token, coalesce(v.id, 10) AS token_id
         |FROM toks t LEFT JOIN vocab v ON t.token = v.v_token""".stripMargin.replace("\n", " "),
    "q12_connected_components" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |keyed AS (
        |  SELECT doc_id, array_to_string(toks[1:4], ' ') AS k FROM d
        |  UNION ALL
        |  SELECT doc_id, array_to_string(toks[-4:], ' ') AS k FROM d),
        |edges AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM keyed a JOIN keyed b ON a.k = b.k),
        |labels(id, comp) AS (
        |  SELECT doc_id, doc_id FROM d
        |  UNION
        |  SELECT e.v, l.comp FROM labels l JOIN edges e ON e.u = l.id)
        |SELECT id AS doc_id, min(comp) AS component FROM labels GROUP BY id""".stripMargin
        .replace("\n", " "))
}
