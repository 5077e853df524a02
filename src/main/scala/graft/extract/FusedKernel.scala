package graft.extract

import graft.annotate.Annotator
import graft.model.Triple
import graft.score.Labels

/** The allocation-lean inner loop of `Extract.triplesFused`.
  *
  * The composable pipeline allocates a `Token` per token, a `PathStep` per
  * path step, buffers per root-path walk and an encoder row per typed stage —
  * at full parallelism that garbage is what saturates the (shared) collector
  * and caps scaling. This kernel runs the IDENTICAL row logic — same
  * annotator rules via the same lexicons, same 3-case SDP assembly, same
  * length/punct gates, same label/score hashes — over reusable per-partition
  * scratch arrays: POS and dep tags live as byte ids (the dep STRING table
  * exists once), root paths walk into preallocated int arrays, and the only
  * per-candidate allocations are the emitted Triple and its signature string.
  * The kernel emits every candidate with its signature in `Triple.sig`; the
  * signature whitelist is not applied here but by the DataFrame gate
  * `Extract.whitelisted`, which needs corpus-wide signature counts. Row
  * equality with the composed pipeline is enforced by ExtractPipelineSpec's
  * differential test (with and without that gate).
  *
  * Reference row semantics: semeval2sdp.py:24-186 (SDP assembly).
  */
object FusedKernel {

  // POS ids (order irrelevant; only identity matters)
  private final val PUNCT = 0
  private final val NUM = 1
  private final val DET = 2
  private final val ADP = 3
  private final val CCONJ = 4
  private final val PRON = 5
  private final val VERB = 6
  private final val ADJ = 7
  private final val NOUN = 8

  // dep ids → the one shared string table (signature building concatenates
  // these, matching SignatureScorer.signatureKey over PathStep.dep)
  private final val D_ROOT = 0
  private final val D_DET = 1
  private final val D_NUMMOD = 2
  private final val D_AMOD = 3
  private final val D_DEP = 4
  private final val D_NSUBJ = 5
  private final val D_POBJ = 6
  private final val D_DOBJ = 7
  private final val D_CONJ = 8
  private final val D_PREP = 9
  private final val D_CC = 10
  private final val D_PUNCT = 11
  private val depStr: Array[String] = Array(
    "ROOT", "det", "nummod", "amod", "dep", "nsubj",
    "pobj", "dobj", "conj", "prep", "cc", "punct")

  private val nLabels = Labels.all.length - 1 // 'Other' reserved, as in SignatureScorer
  private val labelPred: Array[String] = Labels.all.map(Labels.collapse).toArray
  private val labelSwaps: Array[Boolean] = Labels.all.map(_.endsWith("(e2,e1)")).toArray

  /** Exact no-regex port of Annotator.likeNum's digit pattern
    * `^[+-]?[0-9]+([.,][0-9]+)*$` (equality property-tested).
    */
  private def digitLike(t: String): Boolean = {
    val n = t.length
    var i = 0
    if (n == 0) return false
    val c0 = t.charAt(0)
    if (c0 == '+' || c0 == '-') i = 1
    var d = 0
    while (i < n && t.charAt(i) >= '0' && t.charAt(i) <= '9') { i += 1; d += 1 }
    if (d == 0) return false
    while (i < n) {
      val c = t.charAt(i)
      if (c != '.' && c != ',') return false
      i += 1
      var d2 = 0
      while (i < n && t.charAt(i) >= '0' && t.charAt(i) <= '9') { i += 1; d2 += 1 }
      if (d2 == 0) return false
    }
    true
  }

  private def isPunctTok(t: String): Boolean = {
    val n = t.length
    if (n == 0) return false
    var i = 0
    while (i < n) {
      if (Character.isLetterOrDigit(t.charAt(i))) return false
      i += 1
    }
    true
  }

  /** Byte-id port of Annotator.posOf over the precomputed lowercase form. */
  private[graft] def posId(raw: String, lower: String): Int =
    if (isPunctTok(raw)) PUNCT
    else if (digitLike(raw) || Annotator.numberWords.contains(lower)) NUM
    else if (Annotator.determiners.contains(lower)) DET
    else if (Annotator.adpositions.contains(lower)) ADP
    else if (Annotator.conjunctions.contains(lower)) CCONJ
    else if (Annotator.pronouns.contains(lower)) PRON
    else if (Annotator.auxVerbs.contains(lower)) VERB
    else if (lower.endsWith("ing") || lower.endsWith("ed") ||
      lower.endsWith("ize") || lower.endsWith("ifies")) VERB
    else if (lower.endsWith("ous") || lower.endsWith("ful") ||
      lower.endsWith("ive") || lower.endsWith("able")) ADJ
    else math.floorMod(lower.hashCode, 10) match {
      case 0 | 1 | 2 | 3 | 4 | 5 => NOUN
      case 6 | 7 | 8             => VERB
      case _                     => ADJ
    }

  private[graft] def posName(id: Int): String = id match {
    case PUNCT => "PUNCT"; case NUM => "NUM"; case DET => "DET"
    case ADP => "ADP"; case CCONJ => "CCONJ"; case PRON => "PRON"
    case VERB => "VERB"; case ADJ => "ADJ"; case _ => "NOUN"
  }

  /** Per-partition reusable scratch. One instance per task, grown on demand. */
  final class Scratch {
    var cap = 0
    var pos: Array[Byte] = _
    var dep: Array[Byte] = _
    var head: Array[Int] = _
    var lower: Array[String] = _
    var chunkHeads: Array[Int] = _
    var paths: Array[Array[Int]] = _ // root path per chunk head
    var pathLen: Array[Int] = _
    var seq: Array[Int] = _          // node sequence of the current SDP
    val sb = new java.lang.StringBuilder(64)
    val out = new scala.collection.mutable.ArrayBuffer[Triple](64)

    def ensure(n: Int): Unit = if (n > cap) {
      cap = math.max(n, 64)
      pos = new Array[Byte](cap)
      dep = new Array[Byte](cap)
      head = new Array[Int](cap)
      lower = new Array[String](cap)
      chunkHeads = new Array[Int](cap)
      paths = Array.fill(cap)(new Array[Int](cap + 1))
      pathLen = new Array[Int](cap)
      seq = new Array[Int](2 * cap + 2)
    }
  }

  private def isNominal(p: Int): Boolean = p == NOUN || p == PRON
  private def isChunkable(p: Int): Boolean =
    p == DET || p == ADJ || p == NUM || isNominal(p)

  /** Annotate words[from, until) into the scratch arrays — a line-for-line
    * port of Annotator.annotate's head/dep rules — then collect chunk heads.
    * Returns the number of chunk heads.
    */
  private def annotate(words: Array[String], from: Int, until: Int, s: Scratch): Int = {
    val n = until - from
    s.ensure(n)
    var i = 0
    while (i < n) {
      val raw = words(from + i)
      val lw = raw.toLowerCase
      s.lower(i) = lw
      s.pos(i) = posId(raw, lw).toByte
      i += 1
    }
    // root = first main VERB, else first token
    var root = 0
    var found = false
    i = 0
    while (i < n && !found) { if (s.pos(i) == VERB) { root = i; found = true }; i += 1 }

    def nextNominal(k: Int): Int = {
      var j = k + 1
      while (j < n && isChunkable(s.pos(j))) {
        if (isNominal(s.pos(j))) return j
        j += 1
      }
      -1
    }
    def prevAdpWithoutNominal(k: Int): Int = {
      var j = k - 1
      while (j >= 0) {
        if (isNominal(s.pos(j))) return -1
        if (s.pos(j) == ADP) return j
        j -= 1
      }
      -1
    }
    def prevVerbOrNominal(k: Int): Int = {
      var j = k - 1
      while (j >= 0) {
        if (s.pos(j) == VERB || isNominal(s.pos(j))) return j
        j -= 1
      }
      -1
    }

    var firstNominalAfterRootSeen = false
    i = 0
    while (i < n) {
      if (i == root) { s.head(i) = i; s.dep(i) = D_ROOT.toByte }
      else (s.pos(i): Int) match {
        case DET | ADJ | NUM =>
          val nn = nextNominal(i)
          if (nn >= 0) {
            s.head(i) = nn
            s.dep(i) = ((s.pos(i): Int) match {
              case DET => D_DET; case NUM => D_NUMMOD; case _ => D_AMOD
            }).toByte
          } else { s.head(i) = root; s.dep(i) = D_DEP.toByte }
        case NOUN | PRON =>
          if (i < root) { s.head(i) = root; s.dep(i) = D_NSUBJ.toByte }
          else {
            val adp = prevAdpWithoutNominal(i)
            if (adp >= 0) { s.head(i) = adp; s.dep(i) = D_POBJ.toByte }
            else if (!firstNominalAfterRootSeen) {
              s.head(i) = root; s.dep(i) = D_DOBJ.toByte; firstNominalAfterRootSeen = true
            } else { s.head(i) = root; s.dep(i) = D_CONJ.toByte }
          }
        case ADP =>
          val h = prevVerbOrNominal(i)
          s.head(i) = if (h >= 0) h else root
          s.dep(i) = D_PREP.toByte
        case VERB =>
          s.head(i) = root; s.dep(i) = D_CONJ.toByte
        case CCONJ =>
          s.head(i) = root; s.dep(i) = D_CC.toByte
        case _ =>
          s.head(i) = root; s.dep(i) = D_PUNCT.toByte
      }
      i += 1
    }

    // noun chunks: maximal chunkable runs trimmed to the last nominal;
    // chunk head = first token whose head lies outside the chunk
    var nHeads = 0
    var st = 0
    while (st < n) {
      if (isChunkable(s.pos(st))) {
        var e = st
        while (e < n && isChunkable(s.pos(e))) e += 1
        var last = e - 1
        while (last >= st && !isNominal(s.pos(last))) last -= 1
        if (last >= st) {
          // chunkHead scan over [st, last]
          var h = -1
          var j = st
          while (j <= last && h < 0) {
            val hd = s.head(j)
            if (hd < st || hd > last) h = j
            j += 1
          }
          if (h >= 0) { s.chunkHeads(nHeads) = h; nHeads += 1 }
        }
        st = e
      } else st += 1
    }
    nHeads
  }

  /** Emit this sentence's triples into s.out (cleared first). */
  private def sentenceTriples(
      docId: String, spanIdx: Int,
      words: Array[String], from: Int, until: Int,
      minLen: Int, maxLen: Int, maxPairs: Int,
      s: Scratch): Unit = {
    s.out.clear()
    val n = until - from
    if (n == 0) return
    val nHeads = annotate(words, from, until, s)

    // one root-path walk per chunk head (head == self ⇒ ROOT; cycle-bounded)
    var h = 0
    while (h < nHeads) {
      val p = s.paths(h)
      var cur = s.chunkHeads(h)
      var len = 0
      p(len) = cur; len += 1
      var steps = 0
      while (s.head(cur) != cur && steps < n) {
        cur = s.head(cur)
        p(len) = cur; len += 1
        steps += 1
      }
      s.pathLen(h) = len
      h += 1
    }

    var emitted = 0
    var i = 0
    while (i < nHeads - 1 && emitted < maxPairs) {
      var j = i + 1
      while (j < nHeads && emitted < maxPairs) {
        val xp = s.paths(i); val xl = s.pathLen(i)
        val yp = s.paths(j); val yl = s.pathLen(j)
        // first token of the X path appearing anywhere in the Y path
        var common = -1
        var a = 0
        while (a < xl && common < 0) {
          var b = 0
          while (b < yl && common < 0) {
            if (xp(a) == yp(b)) common = xp(a)
            b += 1
          }
          a += 1
        }
        if (common >= 0) {
          val x = s.chunkHeads(i)
          val y = s.chunkHeads(j)
          var len = 0
          if (x == common) {
            // case 2a: Y-path up to X inclusive, reversed
            var bi = 0
            while (yp(bi) != common) bi += 1
            var b = bi
            while (b >= 0) { s.seq(len) = yp(b); len += 1; b -= 1 }
          } else if (y == common) {
            // case 2b: X-path up to Y inclusive
            var ai = 0
            while (xp(ai) != common) ai += 1
            var a2 = 0
            while (a2 <= ai) { s.seq(len) = xp(a2); len += 1; a2 += 1 }
          } else {
            // case 3: X-path through Z, then reversed Y-path before Z
            var ai = 0
            while (xp(ai) != common) ai += 1
            var bi = 0
            while (yp(bi) != common) bi += 1
            var a2 = 0
            while (a2 <= ai) { s.seq(len) = xp(a2); len += 1; a2 += 1 }
            var b = bi - 1
            while (b >= 0) { s.seq(len) = yp(b); len += 1; b -= 1 }
          }
          if (len >= minLen && len <= maxLen) {
            emitted += 1
            // signature of the post-processed path: endpoints always stay
            // (their words become <X>/<Y>), interior punct steps drop;
            // deps joined with \u0001 exactly like SignatureScorer.signatureKey
            s.sb.setLength(0)
            s.sb.append(depStr(s.dep(s.seq(0))))
            var k = 1
            while (k < len - 1) {
              val node = s.seq(k)
              if (s.pos(node) != PUNCT) {
                s.sb.append('\u0001').append(depStr(s.dep(node)))
              }
              k += 1
            }
            if (len > 1) s.sb.append('\u0001').append(depStr(s.dep(s.seq(len - 1))))
            val sig = s.sb.toString
            val xs = s.lower(x)
            val ys = s.lower(y)
            val labelId = math.floorMod(sig.hashCode, nLabels)
            s.sb.setLength(0)
            val score = 0.5 + math.floorMod(
              s.sb.append(xs).append(ys).append(sig).toString.hashCode, 1000) / 2000.0
            val (subj, obj) = if (labelSwaps(labelId)) (ys, xs) else (xs, ys)
            s.out += Triple(subj, labelPred(labelId), obj, docId, spanIdx, score, sig)
          }
        }
        j += 1
      }
      i += 1
    }
  }

  /** All triples of one raw (id, text) doc — the span windowing mirrors
    * Corpus.buildDoc/textSpanTokenWindows (media spans shift the indices).
    */
  def docTriples(
      id: Long, text: String,
      minLen: Int, maxLen: Int, maxPairs: Int,
      s: Scratch): Iterator[Triple] = {
    val words = {
      val raw = text.split(" ")
      var nz = 0
      var i = 0
      while (i < raw.length) { if (raw(i).nonEmpty) { raw(nz) = raw(i); nz += 1 }; i += 1 }
      if (nz == raw.length) raw else java.util.Arrays.copyOf(raw, nz)
    }
    if (words.length == 0) return Iterator.empty
    val docId = f"d$id%09d"
    val w = graft.corpus.Corpus.sentenceTokens
    val nGroups = (words.length + w - 1) / w
    var spanIdx = 0
    (0 until nGroups).iterator.flatMap { g =>
      val from = g * w
      val until = math.min(from + w, words.length)
      val myIdx = spanIdx
      spanIdx += 1
      if (math.floorMod(id * 31 + g, 3) == 0) spanIdx += 1 // media span follows
      sentenceTriples(docId, myIdx, words, from, until, minLen, maxLen, maxPairs, s)
      s.out.toArray[Triple].iterator
    }
  }
}
