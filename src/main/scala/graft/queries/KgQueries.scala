package graft.queries

import graft.corpus.Corpus
import graft.extract.Extract
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** KG-construction pipeline stages exposed as driver queries. The dependency
  * parse is not SQL-expressible, so these have no DuckDB oracle (driver
  * records rows-only checks); their correctness gate is the differential
  * fixture suite (ExtractPipelineSpec) per SURVEY.md §5.
  */
object KgQueries {

  private def sentences(s: SparkSession, dir: String) =
    Extract.docsToSentences(Corpus.fromDocuments(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // input table shape: interleaved docs exploded to spans, invariant order kept
    "kg_spans" -> ((s, dir) => {
      import s.implicits._
      Corpus.fromDocuments(s, dir).flatMap(d =>
        d.spans.zipWithIndex.map { case (sp, i) =>
          (d.doc_id, i, sp.kind, sp.text, sp.media_ref, sp.offset)
        })
        .toDF("doc_id", "span_idx", "kind", "text", "media_ref", "offset")
    }),

    // typed Dataset[Mention] rows (north-star mention detection)
    "kg_mentions" -> ((s, dir) => Extract.mentions(sentences(s, dir)).toDF()),

    // SDP candidates (the reference's central IR)
    "kg_candidates" -> ((s, dir) =>
      Extract.candidates(sentences(s, dir)).toDF()
        .select(col("doc_id"), col("span_idx"), col("x"), col("y"),
          col("source"), size(col("path")).as("path_len"))),

    // emitted (subj, pred, obj) triples after whitelist gate + scoring
    "kg_triples" -> ((s, dir) => {
      // persist: the whitelist counts signatures over the same triple stream
      // the gate filters, so without reuse the extraction would run twice.
      // The gate itself stays a DataFrame (collect-free semi-join); `sig`
      // is dropped so the query keeps its (subj … score) schema.
      val triples = Extract.triples(Extract.candidates(sentences(s, dir))).toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Extract.whitelisted(triples, minCount = 3).drop("sig")
    }),

    // the FULL checkpointed run: extract → link → canonicalize → emit
    // (fresh temp runDir per invocation so the stages actually execute)
    "kg_canonical_triples" -> ((s, dir) => {
      val runDir = java.nio.file.Files
        .createTempDirectory("graft-kgq").toString
      graft.pipeline.KgPipeline.run(s, dir, runDir)
        .select(col("subj_id"), col("pred"), col("obj_id"),
          col("subj"), col("obj"), col("doc_id"), col("span_idx"))
    }))
}
