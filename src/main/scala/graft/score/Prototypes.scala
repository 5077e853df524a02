package graft.score

import graft.extract.Sdp
import graft.model.{Sentence, Token}
import org.apache.spark.sql.{DataFrame, Dataset}

/** The reference's abandoned model PROTOTYPES (SURVEY.md §2 M13/M14/M15),
  * restated as deterministic batch scorers over the broadcast seeded-weight
  * fixture. They are prototypes in the reference too — dead-end notebook
  * experiments its authors kept — so the engine ships them as scoring heads
  * (forward passes), spec-gated by hand-computed fixtures (ModelOpsSpec),
  * registered rows-only as q49.
  */
object Prototypes {

  /** Prototype weights, drawn AFTER an independent seed so NeuralScorer's
    * fixture values are untouched.
    */
  case class ProtoWeights(
      dim: Int,
      w3: Array[Float],              // [dim³] flattened 3-way tensor (M13)
      zVec: Array[Float],            // diag bilinear vector (M14)
      bias: Float,                   // bilinear layer bias (M14)
      wIn: Array[Array[Float]],      // [dim][dim] TreeRNN input weights (M15)
      wState: Array[Array[Float]],   // [dim][dim] TreeRNN child-sum weights
      bState: Array[Float])          // [dim] TreeRNN bias

  /** `dim` = 8: `batch_triple_inner` is "literally as naive as is possible"
    * (reference's own words, relembed.py:36) — O(dim³) per row — so the
    * prototype head runs on the leading 8 embedding dims. The reference
    * abandoned it for the same reason (relembed.py:331-411 dead variants).
    */
  def seededProto(seed: Long = 1042L, dim: Int = 8): ProtoWeights = {
    val draws = NeuralScorer.seededDraws(seed)
    ProtoWeights(dim,
      w3 = Array.fill(dim * dim * dim)(draws.next()),
      zVec = Array.fill(dim)(draws.next()),
      bias = draws.next(),
      wIn = Array.fill(dim, dim)(draws.next()),
      wState = Array.fill(dim, dim)(draws.next()),
      bState = Array.fill(dim)(draws.next()))
  }

  /** M13: 3-way tensor inner product Σ_ijk W[i,j,k]·x_i·y_j·z_k
    * (relembed.py:28-43 `batch_triple_inner`), with the i-loop hoisted —
    * same sum, one pass.
    */
  def tripleInner(w: ProtoWeights, x: Array[Float], y: Array[Float],
                  z: Array[Float]): Double = {
    val d = w.dim
    var acc = 0.0
    var i = 0
    while (i < d) {
      var j = 0
      var accI = 0.0
      while (j < d) {
        var k = 0
        var accJ = 0.0
        while (k < d) { accJ += w.w3((i * d + j) * d + k) * z(k); k += 1 }
        accI += accJ * y(j)
        j += 1
      }
      acc += accI * x(i)
      i += 1
    }
    acc
  }

  /** M14: the keras bilinear layer x^T diag(z) y + b (keras_model.ipynb
    * cells 2-3) with z, b as the "trained" variables from the fixture.
    */
  def bilinearLayer(w: ProtoWeights, x: Array[Float], y: Array[Float]): Double = {
    var acc = w.bias.toDouble
    var i = 0
    while (i < w.dim) { acc += w.zVec(i) * x(i) * y(i); i += 1 }
    acc
  }

  /** M15: TreeRNN child-sum cell (Tree Structured RNN.ipynb cell 2):
    *   h(v) = tanh(W_in·x(v) + W_state·Σ_children h(c) + b_state)
    * evaluated bottom-up over the sentence dependency tree; returns the
    * ROOT hidden state. `embed` maps a token to its input vector.
    */
  def treeCompose(w: ProtoWeights, tokens: Array[Token],
                  embed: Token => Array[Float]): Array[Float] = {
    val n = tokens.length
    val d = w.dim
    if (n == 0) return new Array[Float](d)
    // children lists + post-order via an explicit stack (the Annotator
    // guarantees a tree: head == self ⇔ root)
    val children = Array.fill(n)(List.empty[Int])
    var root = 0
    var v = 0
    while (v < n) {
      val h = tokens(v).head
      if (h == v) root = v else children(h) = v :: children(h)
      v += 1
    }
    val hidden = new Array[Array[Float]](n)
    // iterative post-order: push node twice; second visit composes
    val stack = scala.collection.mutable.Stack[(Int, Boolean)]((root, false))
    while (stack.nonEmpty) {
      val (node, ready) = stack.pop()
      if (!ready) {
        stack.push((node, true))
        children(node).foreach(c => stack.push((c, false)))
      } else {
        val x = embed(tokens(node))
        val childSum = new Array[Float](d)
        children(node).foreach { c =>
          val hc = hidden(c)
          var i = 0
          while (i < d) { childSum(i) += hc(i); i += 1 }
        }
        val h = new Array[Float](d)
        var j = 0
        while (j < d) {
          var acc = w.bState(j).toDouble
          var i = 0
          while (i < d) {
            acc += x(i) * w.wIn(i)(j) + childSum(i) * w.wState(i)(j)
            i += 1
          }
          h(j) = math.tanh(acc).toFloat
          j += 1
        }
        hidden(node) = h
      }
    }
    hidden(root)
  }

  /** q49: all three prototype heads over the candidate stream — one narrow
    * mapPartitions stage (weights broadcast once), per-sentence tree state
    * computed once and shared by that sentence's candidates. Scores are
    * floor-scaled to micro-units so row values are exact.
    */
  def prototypeScores(sentences: Dataset[Sentence], seed: Long = 1042L)
      : DataFrame = {
    val spark = sentences.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(seededProto(seed))
    sentences.flatMap { s =>
      val w = bc.value
      def embed(t: Token): Array[Float] = {
        // deterministic per-token vector from the token's lowercased text;
        // hashCode 0 (e.g. "") would pin the xorshift state at 0 forever —
        // same zero-seed guard as NegativeSampling.KeyedRng (ADVICE round 3)
        var h = t.text.toLowerCase.hashCode.toLong
        if (h == 0L) h = 0x9E3779B97F4A7C15L
        NeuralScorer.seededDraws(h).take(w.dim).toArray
      }
      val rootH = treeCompose(w, s.tokens, embed)
      Sdp.sentenceToSdps(s.tokens, s.chunks).take(64).iterator.map { case (x, y, _) =>
        val ex = embed(s.tokens(x))
        val ey = embed(s.tokens(y))
        (s.doc_id, s.span_idx,
          s.tokens(x).text.toLowerCase, s.tokens(y).text.toLowerCase,
          math.floor(tripleInner(w, ex, ey, rootH) * 1e6).toLong,
          math.floor(bilinearLayer(w, ex, ey) * 1e6).toLong,
          math.floor(rootH.map(v => v.toDouble * v).sum * 1e6).toLong)
      }
    }.toDF("doc_id", "span_idx", "x", "y",
      "triple_inner_upm", "bilinear_layer_upm", "tree_state_l2_upm")
  }
}
