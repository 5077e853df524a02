package graft.extract

import graft.annotate.Annotator
import graft.model._
import graft.score.SignatureScorer
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Dataset-level extraction stages: docs → sentences → mentions → SDP
  * candidates → triples. Every stage is a narrow transformation (flatMap /
  * mapPartitions) — no shuffle until linking/canonicalization — so the whole
  * extraction pipelines inside one Spark stage regardless of input size.
  * The one exception is the `whitelisted` gate, which needs corpus-wide
  * signature counts (one aggregation plus a semi-join).
  *
  * Reference dataflow restated (SURVEY.md §3.1): text line → spaCy Doc →
  * chunk pairs → root paths → SDP dict → encoded JSONL.
  */
object Extract {

  /** Explode text spans into annotated sentences, preserving (doc_id,
    * span_idx) so the span-sequence invariant is restorable. Media spans pass
    * through untouched elsewhere; this stage only consumes kind='text'.
    */
  def docsToSentences(docs: Dataset[Doc]): Dataset[Sentence] = {
    import docs.sparkSession.implicits._
    docs.flatMap { d =>
      d.spans.iterator.zipWithIndex.collect {
        case (s, idx) if s.kind == "text" && s.text.nonEmpty =>
          val (tokens, chunks) = Annotator.annotate(Annotator.tokenize(s.text))
          Sentence(d.doc_id, idx, tokens, chunks)
      }
    }
  }

  /** Typed mention rows from chunk heads (reference noun-chunk heads,
    * semeval2sdp.py:24-46).
    */
  def mentions(sentences: Dataset[Sentence]): Dataset[Mention] = {
    import sentences.sparkSession.implicits._
    sentences.flatMap { s =>
      s.chunks.iterator.flatMap { c =>
        Sdp.chunkHead(s.tokens, c).map { h =>
          Mention(s.doc_id, s.span_idx, h, c.start, c.end, s.tokens(h).text.toLowerCase)
        }
      }
    }
  }

  /** SDP candidates: pair generation + 3-case assembly + length bounds +
    * punct-step removal. `maxPairsPerSentence` caps the quadratic chunk-pair
    * blowup (J4) so one pathological sentence can't skew a partition.
    */
  def candidates(
      sentences: Dataset[Sentence],
      maxPairsPerSentence: Int = 64): Dataset[SdpCandidate] = {
    import sentences.sparkSession.implicits._
    sentences.flatMap { s =>
      Sdp.sentenceToSdps(s.tokens, s.chunks)
        .take(maxPairsPerSentence)
        .iterator
        .map { case (x, y, path) =>
          SdpCandidate(
            s.doc_id, s.span_idx,
            s.tokens(x).text.toLowerCase, s.tokens(y).text.toLowerCase,
            Sdp.postProcess(path), "WIKI")
        }
        .filter(_.path.nonEmpty)
    }
  }

  /** The dep-structure whitelist gate (is_ok_sdp v2 structure check,
    * wiki_and_semeval2sdp.py:289-292): keeps the triples whose path signature
    * `sig` occurs at least `minCount` times in `triples`. The reference ships
    * the whitelist as a precomputed literal (sdp_dep_structures.py:1); we
    * derive it from the corpus the same way its authors did from SemEval.
    * Collect-free: the signature counts stay a DataFrame and the gate is a
    * left-semi join on `sig`, which AQE broadcasts while the signature
    * dictionary is small and shuffles (never a driver OOM) when it is not.
    * Duplicate rows survive as duplicates; the output has the input's
    * columns in the input's order.
    */
  def whitelisted(triples: DataFrame, minCount: Long): DataFrame = {
    val frequent = triples.groupBy("sig").count()
      .filter(col("count") >= minCount)
      .select(col("sig").as("__wl_sig"))
    triples.join(frequent, col("sig") === col("__wl_sig"), "left_semi")
  }

  /** Score candidates into triples (deterministic signature scorer; the
    * broadcast-model mapPartitions variant lives in score/). One triple per
    * candidate, carrying the signature the whitelist gate counts.
    */
  def triples(cands: Dataset[SdpCandidate]): Dataset[Triple] = {
    import cands.sparkSession.implicits._
    cands.map(SignatureScorer.toTriple)
  }

  /** Fused extraction: (doc_id, text) → triples in ONE narrow stage with no
    * intermediate Encoder round-trips and (as of round 2) no per-token/
    * per-step object allocation: the row logic runs in FusedKernel over
    * reusable per-partition scratch arrays. The composable stages above
    * serialize Doc → Sentence → SdpCandidate → Triple at every typed
    * boundary; at full parallelism that allocation rate becomes the scaling
    * bottleneck (GC is a shared resource across executor threads). Results
    * are row-equal to `triples(candidates(docsToSentences(...)))` as a
    * multiset — ExtractPipelineSpec runs the differential with and without
    * the `whitelisted` gate, which callers apply downstream.
    */
  def triplesFused(
      docs: Dataset[(Long, String)],
      maxPairsPerSentence: Int = 64): Dataset[Triple] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { it =>
      val scratch = new FusedKernel.Scratch
      it.flatMap { case (id, text) =>
        FusedKernel.docTriples(id, text, maxPairsPerSentence, scratch)
      }
    }
  }
}
