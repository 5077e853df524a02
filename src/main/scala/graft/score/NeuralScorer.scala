package graft.score

import graft.model.{SdpCandidate, Triple}
import org.apache.spark.sql.Dataset

/** Broadcast-model batched relation scorer — the Spark restatement of the
  * reference's TF inference graph (M1-M5, relembed.py:144-329): embedding
  * lookup → GRU sequence composition over the SDP path → 19-way softmax.
  *
  * North star: "batched mention detection and entity-pair relation scoring as
  * broadcast-model mapPartitions over Catalyst-planned stages". The weights
  * are a deterministic seeded fixture (no trained artifact ships offline —
  * SURVEY.md §7.0 risk 5); the *mechanics* are production-shaped:
  * weights broadcast once per job, scoring vectorized over padded
  * micro-batches inside mapPartitions (reference batch tensors,
  * data_handler.py:106-124), whole-stage codegen unbroken outside this stage.
  */
object NeuralScorer {

  /** Model weights: embeddings for hashed vocab buckets + GRU cell + softmax.
    * All values from a seeded xorshift PRNG — identical on every executor and
    * every run.
    */
  /** Number of Brown-style clusters for the M9 pair-softmax head (K² pair
    * classes) — matches q32's deterministic cluster table (md5num % 64).
    */
  val nClusters: Int = 64

  case class Weights(
      vocabBuckets: Int,
      embedDim: Int,
      hidden: Int,
      embed: Array[Array[Float]],   // [vocabBuckets][embedDim]
      wz: Array[Array[Float]], uz: Array[Array[Float]], // update gate
      wr: Array[Array[Float]], ur: Array[Array[Float]], // reset gate
      wh: Array[Array[Float]], uh: Array[Array[Float]], // candidate
      wOut: Array[Array[Float]],                        // [hidden][nLabels]
      wPair: Array[Array[Float]])                       // [hidden][K²] (M9)

  def seededWeights(seed: Long = 42L, vocabBuckets: Int = 4096,
                    embedDim: Int = 32, hidden: Int = 32): Weights = {
    var s = seed
    def next(): Float = { // xorshift64*, mapped to [-0.1, 0.1)
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      ((s * 2685821657736338717L >>> 11).toDouble / (1L << 53) * 0.2 - 0.1).toFloat
    }
    def mat(r: Int, c: Int) = Array.fill(r, c)(next())
    Weights(vocabBuckets, embedDim, hidden,
      embed = mat(vocabBuckets, embedDim),
      wz = mat(embedDim, hidden), uz = mat(hidden, hidden),
      wr = mat(embedDim, hidden), ur = mat(hidden, hidden),
      wh = mat(embedDim, hidden), uh = mat(hidden, hidden),
      wOut = mat(hidden, Labels.all.length),
      // generated LAST so earlier draws (and every pre-M9 fixture value)
      // stay identical for a given seed
      wPair = mat(hidden, nClusters * nClusters))
  }

  private def bucket(w: Weights, token: String): Int =
    math.floorMod(token.hashCode, w.vocabBuckets)

  /** M1 lookup exposed for composed consumers (Trainer's feature head). */
  private[graft] def embedOf(w: Weights, token: String): Array[Float] =
    w.embed(bucket(w, token))

  private def sigmoid(x: Float): Float = (1.0 / (1.0 + math.exp(-x))).toFloat

  /** GRU over the path's (word⊕dep⊕pos)-hashed embeddings; returns the final
    * hidden state (M2 analog: relembed.py:216-258).
    */
  private[graft] def encode(w: Weights, cand: SdpCandidate): Array[Float] = {
    val h = new Array[Float](w.hidden)
    var t = 0
    while (t < cand.path.length) {
      val step = cand.path(t)
      // sum of the three modality embeddings stands in for concat+project
      val x = new Array[Float](w.embedDim)
      for (tok <- Seq(step.word, "d:" + step.dep, "p:" + step.pos)) {
        val e = w.embed(bucket(w, tok))
        var i = 0
        while (i < w.embedDim) { x(i) += e(i); i += 1 }
      }
      val hNext = new Array[Float](w.hidden)
      var j = 0
      while (j < w.hidden) {
        var z = 0f; var r = 0f; var c = 0f
        var i = 0
        while (i < w.embedDim) { z += x(i) * w.wz(i)(j); r += x(i) * w.wr(i)(j); c += x(i) * w.wh(i)(j); i += 1 }
        i = 0
        while (i < w.hidden) { z += h(i) * w.uz(i)(j); r += h(i) * w.ur(i)(j); i += 1 }
        val zg = sigmoid(z); val rg = sigmoid(r)
        i = 0
        while (i < w.hidden) { c += rg * h(i) * w.uh(i)(j); i += 1 }
        val cg = math.tanh(c).toFloat
        hNext(j) = (1 - zg) * h(j) + zg * cg
        j += 1
      }
      System.arraycopy(hNext, 0, h, 0, w.hidden)
      t += 1
    }
    h
  }

  /** M11: masked-mean composition (RelEmbed Average Single notebook) — the
    * average of the per-step summed modality embeddings over the path's
    * actual length. A drop-in alternative to the GRU composer (embedDim ==
    * hidden by construction of the fixture weights).
    */
  private[graft] def encodeMean(w: Weights, cand: SdpCandidate): Array[Float] = {
    val m = new Array[Float](w.embedDim)
    if (cand.path.isEmpty) return m
    var t = 0
    while (t < cand.path.length) {
      val step = cand.path(t)
      for (tok <- Seq(step.word, "d:" + step.dep, "p:" + step.pos)) {
        val e = w.embed(bucket(w, tok))
        var i = 0
        while (i < w.embedDim) { m(i) += e(i); i += 1 }
      }
      t += 1
    }
    var i = 0
    while (i < w.embedDim) { m(i) /= cand.path.length; i += 1 }
    m
  }

  /** M3: the reference's unsupervised bilinear relation score
    * logit = Σᵢ (xᵢ · hᵢ) · yᵢ  (x^T diag(h) y, relembed.py:271-273) over the
    * target-surface embeddings and the composed path state.
    */
  private[graft] def bilinearScore(w: Weights, cand: SdpCandidate,
                                   h: Array[Float]): Double = {
    val ex = w.embed(bucket(w, cand.x))
    val ey = w.embed(bucket(w, cand.y))
    var s = 0.0
    var i = 0
    while (i < w.embedDim) { s += ex(i) * h(i) * ey(i); i += 1 }
    s
  }

  /** M10: single-endpoint scorer (relembed_single.py:121-127) — score one
    * target against the composed context: logit = Σᵢ hᵢ · e(target)ᵢ. The
    * twin directions (predict X | rest, predict Y | rest) are the two calls.
    */
  private[graft] def singleScore(w: Weights, target: String,
                                 h: Array[Float]): Double = {
    val e = w.embed(bucket(w, target))
    var s = 0.0
    var i = 0
    while (i < w.embedDim) { s += h(i) * e(i); i += 1 }
    s
  }

  /** M8: similarity representation [x ⊙ h ; y], L2-normalized
    * (relembed.py:586-625) — the vector the reference's nearest-neighbor
    * probes ran over. Cosine top-k over these reps is `Similarity.cosineTopK`
    * / `ivfSearch` downstream.
    */
  private[graft] def simRep(w: Weights, cand: SdpCandidate,
                            h: Array[Float]): Array[Float] = {
    val ex = w.embed(bucket(w, cand.x))
    val ey = w.embed(bucket(w, cand.y))
    val rep = new Array[Float](2 * w.embedDim)
    var i = 0
    while (i < w.embedDim) {
      rep(i) = ex(i) * h(i)
      rep(w.embedDim + i) = ey(i)
      i += 1
    }
    var n = 0.0
    i = 0
    while (i < rep.length) { n += rep(i) * rep(i); i += 1 }
    val inv = if (n == 0) 0f else (1.0 / math.sqrt(n)).toFloat
    i = 0
    while (i < rep.length) { rep(i) *= inv; i += 1 }
    rep
  }

  /** M9: cluster-pair softmax over K² pair classes — the reference's
    * clustered-unsupervised objective predicts the Brown-cluster PAIR of
    * the two targets from the composed path state (RelEmbed Big Clustered
    * Unsupervised notebook; cluster-pair labels as in q32). Returns
    * (argmax pair id, softmax probability of the OBSERVED pair).
    */
  private[graft] def clusterPairSoftmax(w: Weights, h: Array[Float],
                                        observedPair: Int): (Int, Double) = {
    val n = w.wPair(0).length
    val logits = new Array[Double](n)
    // accumulate row-major (one contiguous wPair row per hidden unit) —
    // the k-inner/i-outer order walks each 4096-wide row sequentially
    // instead of striding across all rows per class
    var i = 0
    while (i < w.hidden) {
      val hi = h(i)
      val row = w.wPair(i)
      var k = 0
      while (k < n) { logits(k) += hi * row(k); k += 1 }
      i += 1
    }
    var best = 0; var bestV = Double.MinValue
    var k = 0
    while (k < n) {
      if (logits(k) > bestV) { bestV = logits(k); best = k }
      k += 1
    }
    var sumExp = 0.0
    k = 0
    while (k < n) { sumExp += math.exp(logits(k) - bestV); k += 1 }
    (best, math.exp(logits(observedPair) - bestV) / sumExp)
  }

  /** Deterministic cluster id of a surface (q32's table: md5num % 64). */
  private[graft] def clusterOf(surface: String): Int =
    (graft.functions.Portable.md5numScala(surface) % nClusters).toInt

  /** M9 as a Dataset pass: per candidate the observed cluster-pair label,
    * its softmax probability under the pair head, and the argmax pair.
    */
  def clusterPairScores(cands: Dataset[SdpCandidate], seed: Long = 42L): org.apache.spark.sql.DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(seededWeights(seed))
    cands.mapPartitions { it =>
      val w = bc.value
      it.map { c =>
        val pair = clusterOf(c.x) * nClusters + clusterOf(c.y)
        val (argmax, prob) = clusterPairSoftmax(w, encode(w, c), pair)
        (c.doc_id, c.span_idx, c.x, c.y, pair, argmax,
          math.floor(prob * 1e9).toLong)
      }
    }.toDF("doc_id", "span_idx", "x", "y", "pair_label", "pred_pair", "prob_nppb")
  }

  /** 19-way logits + argmax (M5 analog: relembed.py:304-329). */
  private[graft] def classify(w: Weights, h: Array[Float]): (Int, Double) = {
    var best = 0; var bestV = Double.MinValue; var sumExp = 0.0
    val logits = new Array[Double](Labels.all.length)
    var k = 0
    while (k < Labels.all.length) {
      var v = 0.0
      var i = 0
      while (i < w.hidden) { v += h(i) * w.wOut(i)(k); i += 1 }
      logits(k) = v
      if (v > bestV) { bestV = v; best = k }
      k += 1
    }
    k = 0
    while (k < logits.length) { sumExp += math.exp(logits(k) - bestV); k += 1 }
    (best, 1.0 / sumExp) // softmax probability of the argmax class
  }

  /** Score candidates in padded micro-batches with broadcast weights. The
    * per-batch hook is where a vectorized BLAS/onnx call would slot in; the
    * grouping shape (drain iterator → batch → score → emit) is the
    * production pattern either way.
    */
  /** M3 + M10 as one pass: per candidate the bilinear relation logit and the
    * two single-endpoint logits, integer-scaled (×10⁶, floored) so outputs
    * are stable row values. One encode per candidate feeds all three heads.
    */
  def unsupScores(cands: Dataset[SdpCandidate], seed: Long = 42L): org.apache.spark.sql.DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(seededWeights(seed))
    cands.mapPartitions { it =>
      val w = bc.value
      it.map { c =>
        val h = encode(w, c)
        (c.doc_id, c.span_idx, c.x, c.y,
          math.floor(bilinearScore(w, c, h) * 1e6).toLong,
          math.floor(singleScore(w, c.x, h) * 1e6).toLong,
          math.floor(singleScore(w, c.y, h) * 1e6).toLong)
      }
    }.toDF("doc_id", "span_idx", "x", "y", "bilinear_upm", "score_x_upm", "score_y_upm")
  }

  /** M11 wired to M5: classify over the masked-mean composition instead of
    * the GRU — the engine's second model variant.
    */
  def scoreMean(cands: Dataset[SdpCandidate], seed: Long = 42L): Dataset[Triple] = {
    val spark = cands.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(seededWeights(seed))
    cands.mapPartitions { it =>
      val w = bc.value
      it.map { c =>
        val (labelId, prob) = classify(w, encodeMean(w, c))
        val label = Labels.all(labelId)
        val (s, o) =
          if (label.endsWith("(e2,e1)")) (c.y, c.x) else (c.x, c.y)
        Triple(s, Labels.collapse(label), o, c.doc_id, c.span_idx, prob,
          SignatureScorer.signatureKey(c.path))
      }
    }
  }

  /** M8 rep table: one L2-normalized [x⊙h ; y] vector per candidate, as an
    * embedding column the similarity operators consume directly. `path_sig`
    * (the dep-path signature) makes (doc_id, span_idx, x, y, path_sig) a
    * TOTAL order over candidates — one sentence can yield the same surface
    * pair twice via different paths, and consumers that rank rows (q42's
    * vec_id) need a run-invariant tie-break.
    */
  def simRepTable(cands: Dataset[SdpCandidate], seed: Long = 42L): org.apache.spark.sql.DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(seededWeights(seed))
    cands.mapPartitions { it =>
      val w = bc.value
      it.map { c =>
        // full (word, dep, pos) rendering, not just the dep signature: the
        // embedding depends on path words, so the tie-break must too
        val sig = c.path.iterator
          .map(p => p.word + "\u0001" + p.dep + "\u0001" + p.pos)
          .mkString("\u0002")
        (c.doc_id, c.span_idx, c.x, c.y, sig, simRep(w, c, encode(w, c)))
      }
    }.toDF("doc_id", "span_idx", "x", "y", "path_sig", "embedding")
  }

  def score(cands: Dataset[SdpCandidate], seed: Long = 42L,
            batchSize: Int = 128): Dataset[Triple] = {
    val spark = cands.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(seededWeights(seed))
    cands.mapPartitions { it =>
      val w = bc.value
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { cand =>
          val (labelId, prob) = classify(w, encode(w, cand))
          val label = Labels.all(labelId)
          val (s, o) =
            if (label.endsWith("(e2,e1)")) (cand.y, cand.x) else (cand.x, cand.y)
          Triple(s, Labels.collapse(label), o, cand.doc_id, cand.span_idx, prob,
            SignatureScorer.signatureKey(cand.path))
        }
      }
    }
  }
}
