package graft.extract

import graft.model.{Chunk, PathStep, Token}

/** Shortest-dependency-path assembly — pure functions, the heart of the
  * reference extractor (semeval2sdp.py:24-186; identical logic repeated at
  * semeval_data_helper.py:91-121 and wiki_and_semeval2sdp.py:103-136).
  *
  * All functions operate on one sentence's token array; no Spark types here so
  * the logic is unit-testable row logic that `flatMap` lifts onto Datasets.
  */
object Sdp {

  /** Head noun of a chunk = token whose head lies outside the chunk
    * (semeval2sdp.py:24-31). None if no such token (bad chunk, skipped).
    */
  def chunkHead(tokens: Array[Token], chunk: Chunk): Option[Int] = {
    var i = chunk.start
    while (i < chunk.end) {
      val h = tokens(i).head
      if (h < chunk.start || h >= chunk.end) return Some(i)
      i += 1
    }
    None // chunk containing its own root — reference prints a warning and skips
  }

  /** Ordered n-choose-2 pairs of chunk head indices, document order, skipping
    * chunks with no resolvable head (semeval2sdp.py:33-46).
    */
  def chunkPairs(tokens: Array[Token], chunks: Array[Chunk]): Seq[(Int, Int)] = {
    val heads = chunks.flatMap(c => chunkHead(tokens, c))
    for {
      i <- heads.indices.dropRight(1)
      j <- (i + 1) until heads.length
    } yield (heads(i), heads(j))
  }

  /** Walk head pointers to root, inclusive of the start token
    * (semeval2sdp.py:57-64). Cycle-guarded by the sentence length.
    */
  def rootPath(tokens: Array[Token], start: Int): Array[Int] = {
    val buf = scala.collection.mutable.ArrayBuffer(start)
    var cur = start
    var steps = 0
    while (tokens(cur).head != cur && steps < tokens.length) {
      cur = tokens(cur).head
      buf += cur
      steps += 1
    }
    buf.toArray
  }

  /** First token of xPath that appears anywhere in yPath
    * (semeval2sdp.py:66-72 — outer loop over the X path fixes the order).
    * Allocation-free nested scan — root paths are sentence-bounded and short,
    * so this beats building a set per candidate pair.
    */
  def commonAncestor(xPath: Array[Int], yPath: Array[Int]): Option[Int] = {
    var i = 0
    while (i < xPath.length) {
      var j = 0
      while (j < yPath.length) {
        if (xPath(i) == yPath(j)) return Some(xPath(i))
        j += 1
      }
      i += 1
    }
    None
  }

  private def step(tokens: Array[Token], i: Int): PathStep = {
    val t = tokens(i)
    PathStep(t.norm, t.dep, t.pos)
  }

  /** Three-case SDP assembly with `<X>`/`<Y>` endpoint placeholders
    * (semeval2sdp.py:105-139). Returns None for case 1 (no common ancestor).
    */
  def assemble(tokens: Array[Token], x: Int, y: Int): Option[Array[PathStep]] =
    assembleWithPaths(tokens, x, y, rootPath(tokens, x), rootPath(tokens, y))

  /** assemble() with caller-supplied root paths, so per-sentence callers can
    * compute each chunk head's path once instead of once per pair (the pair
    * loop is quadratic in chunk count — J4).
    */
  def assembleWithPaths(tokens: Array[Token], x: Int, y: Int,
                        xPath: Array[Int], yPath: Array[Int]): Option[Array[PathStep]] = {
    commonAncestor(xPath, yPath).map { common =>
      val out =
        if (x == common) {
          // case 2a: X is ancestor of Y — Y-path up to X inclusive, reversed
          val upto = yPath.indexOf(common)
          yPath.slice(0, upto + 1).map(step(tokens, _)).reverse
        } else if (y == common) {
          // case 2b: Y is ancestor of X — X-path up to Y inclusive
          val upto = xPath.indexOf(common)
          xPath.slice(0, upto + 1).map(step(tokens, _))
        } else {
          // case 3: common ancestor Z — X-path through Z, then reversed Y-path before Z
          val xi = xPath.indexOf(common)
          val yi = yPath.indexOf(common)
          xPath.slice(0, xi + 1).map(step(tokens, _)) ++
            yPath.slice(0, yi).map(step(tokens, _)).reverse
        }
      out(0) = PathStep("<X>", out(0).dep, out(0).pos)
      out(out.length - 1) = PathStep("<Y>", out(out.length - 1).dep, out(out.length - 1).pos)
      out
    }
  }

  /** The SDP length bounds every extraction path applies (defaults of
    * semeval2sdp.py:184-185: inclusive, counted on the full path).
    */
  final val MinLen = 1
  final val MaxLen = 7

  /** All SDPs of one sentence within the length bounds. Yields (xHeadIdx,
    * yHeadIdx, path).
    */
  def sentenceToSdps(
      tokens: Array[Token],
      chunks: Array[Chunk],
      minLen: Int = MinLen,
      maxLen: Int = MaxLen): Seq[(Int, Int, Array[PathStep])] = {
    val heads = chunks.flatMap(c => chunkHead(tokens, c))
    val paths = heads.map(h => rootPath(tokens, h)) // one walk per head, not per pair
    val out = Seq.newBuilder[(Int, Int, Array[PathStep])]
    var i = 0
    while (i < heads.length - 1) {
      var j = i + 1
      while (j < heads.length) {
        assembleWithPaths(tokens, heads(i), heads(j), paths(i), paths(j)) match {
          case Some(p) if p.length >= minLen && p.length <= maxLen =>
            out += ((heads(i), heads(j), p))
          case _ =>
        }
        j += 1
      }
      i += 1
    }
    out.result()
  }

  /** Surface-sequence alternative to the SDP (the reference's `--sentence`
    * flag, convert_nominals_to_sentence, semeval_data_helper.py:130-151):
    * the smart-text token run between X and Y inclusive, with `<X>`/`<Y>`
    * placeholders at the ends.
    */
  def nominalSequence(tokens: Array[Token], x: Int, y: Int): Array[PathStep] = {
    val (lo, hi) = if (x <= y) (x, y) else (y, x)
    val seq = (lo to hi).map(step(tokens, _)).toArray
    seq(0) = PathStep(if (x <= y) "<X>" else "<Y>", seq(0).dep, seq(0).pos)
    seq(seq.length - 1) =
      PathStep(if (x <= y) "<Y>" else "<X>", seq.last.dep, seq.last.pos)
    seq
  }

  /** P12: faithful reverse-path duplication (semeval_data_helper.py:193-200,
    * wiki_and_semeval2sdp.py:430-441): the reversed candidate walks the SDP
    * from the other end — steps reversed wholesale, the new first/last step
    * WORDS rewritten to `<X>`/`<Y>` (they were `<Y>`/`<X>`), and the target
    * pair swapped. An involution on well-formed candidates:
    * reverse(reverse(c)) == c (SdpProperties).
    */
  def reverseCandidate(c: graft.model.SdpCandidate): graft.model.SdpCandidate = {
    val rev = c.path.reverse
    if (rev.nonEmpty) {
      rev(0) = rev(0).copy(word = "<X>")
      rev(rev.length - 1) = rev(rev.length - 1).copy(word = "<Y>")
    }
    c.copy(x = c.y, y = c.x, path = rev)
  }

  /** Drop `<PUNCT>` steps (post_process_sdp, semeval2sdp.py:239-243). */
  def postProcess(path: Array[PathStep]): Array[PathStep] =
    path.filter(_.word != "<PUNCT>")

  /** is_ok_sdp v1 (semeval2sdp.py:245-262): neither target OOV, at most
    * oovPercent% of path words OOV, path and targets non-empty.
    */
  def isOkSdp(
      path: Array[PathStep],
      xInVocab: Boolean,
      yInVocab: Boolean,
      wordInVocab: String => Boolean,
      oovPercent: Int = 75): Boolean = {
    if (!xInVocab || !yInVocab) return false
    if (path.isEmpty) return false
    val oovCount = path.count(s => !wordInVocab(s.word))
    val tooMany = (oovPercent / 100.0 * path.length).toInt
    oovCount <= tooMany
  }

  /** Dep-label signature of a path — membership key for the structure
    * whitelist semi-join (wiki_and_semeval2sdp.py:267-293;
    * whitelist literal sdp_dep_structures.py:1).
    */
  def depSignature(path: Array[PathStep]): Seq[String] = path.map(_.dep).toSeq
}
