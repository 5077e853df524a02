package graft.model

/** Core data model for the KG-construction engine.
  *
  * Shapes mirror the reference's record types (see SURVEY.md §1):
  *  - `Doc`/`Span`: the driver-mandated interleaved text+media document table
  *    (input_hint: doc_id:string, spans:array<struct<kind,text,media_ref,offset>>).
  *  - `Token`: the annotated-token tuple the reference reads off spaCy docs
  *    (text, dep_, pos_, head, is_punct, like_num — semeval2sdp.py:96-139).
  *  - `PathStep`: one (word, dep, pos) step of a shortest dependency path
  *    (semeval2sdp.py:186 `{'path': [(word, dep, pos), ...]}`).
  *  - `SdpCandidate`: the central IR, reference JSONL record
  *    {'path', 'target', 'sent', 'source'} (wiki_and_semeval2sdp.py:187,403,423).
  *  - `Triple`: the emitted (subj, pred, obj) with provenance, score and the
  *    dep-path signature `sig` its label was derived from (the whitelist gate
  *    `Extract.whitelisted` counts rows per `sig`).
  */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

case class Doc(doc_id: String, spans: Array[Span])

case class Token(
    text: String,
    norm: String,
    pos: String,
    dep: String,
    head: Int, // parent token index; head == self index ⇒ ROOT
    is_punct: Boolean,
    like_num: Boolean)

/** Noun chunk as a token-index interval [start, end). */
case class Chunk(start: Int, end: Int)

/** One text span of a doc, annotated. span_idx preserves the in-doc span order
  * so the span-sequence invariant (kind, text, media_ref, order) is restorable.
  */
case class Sentence(
    doc_id: String,
    span_idx: Int,
    tokens: Array[Token],
    chunks: Array[Chunk])

case class Mention(
    doc_id: String,
    span_idx: Int,
    head_idx: Int,
    start: Int,
    end: Int,
    surface: String)

case class PathStep(word: String, dep: String, pos: String)

case class SdpCandidate(
    doc_id: String,
    span_idx: Int,
    x: String, // lowercased surface of X head noun (reference: X.text.lower())
    y: String,
    path: Array[PathStep],
    source: String)

case class Triple(
    subj: String,
    pred: String,
    obj: String,
    doc_id: String,
    span_idx: Int,
    score: Double,
    sig: String)

/** Dictionary row for entity linking (reference vocab sidecar analog:
  * (token, unigram_prob) JSONL, semeval2sdp.py:345-356).
  */
case class AliasEntry(alias: String, entity_id: Long, freq: Long, prob: Double)
