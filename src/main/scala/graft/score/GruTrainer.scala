package graft.score

import graft.model.SdpCandidate
import org.apache.spark.sql.{DataFrame, Dataset}

/** FULL-MODEL backprop trainer — the reference's `tf.trainable_variables()`
  * training step (relembed.py:473-496: the Adam minimizer receives gradients
  * for ALL variables — embeddings, GRU matrices, and the scoring head — not
  * just a linear probe) restated as the engine's distributed
  * parameter-server loop. `Trainer.trainNegSampling` trains a linear head
  * over the frozen encoder; THIS trainer differentiates through the encoder
  * itself: exact hand-derived backprop-through-time over the GRU, gradient
  * scatter into the embedding table, and the bilinear relation head
  * (relembed.py:271-273), all under the same negative-sampling sigmoid-xent
  * objective (relembed.py:449-471).
  *
  * Model (all parameters TRAINED, initialized at `NeuralScorer.seededWeights`
  * so epoch 0 scores exactly like the frozen scorer):
  *   x_t  = Σ embed[bucket(tok)]          (3 modality tokens per path step)
  *   z    = σ(x·Wz + h·Uz)                (update gate)
  *   r    = σ(x·Wr + h·Ur)                (reset gate)
  *   c_j  = tanh((x·Wh)_j + r_j·(h·Uh)_j) (candidate; reset-after-projection,
  *                                         the exact variant `NeuralScorer
  *                                         .encode` computes)
  *   h'   = (1−z)⊙h + z⊙c
  *   logit = Σ_i ex_i·h_i·ey_i            (M3 bilinear: x^T diag(h) y)
  *   loss  = sigmoid xent vs the §2.9 negative-sampling label
  *
  * Backward (per example; σ' = s(1−s), tanh' = 1−c²):
  *   err   = σ(logit) − y
  *   ∂ex   = err·(h ⊙ ey), ∂ey = err·(ex ⊙ h), ∂h_T = err·(ex ⊙ ey)
  *   per step t = T−1 … 0, given upstream ∂h (w.r.t. h_t):
  *     ∂z̃_j = ∂h_j·(c_j − h_{t−1,j})·z_j(1−z_j)
  *     ∂c̃_j = ∂h_j·z_j·(1 − c_j²)
  *     ∂r̃_j = ∂c̃_j·q_j·r_j(1−r_j)         where q_j = (h_{t−1}·Uh)_j
  *     ∂h_{t−1} = ∂h⊙(1−z) + Uz·∂z̃ + Ur·∂r̃ + Uh·(∂c̃⊙r)
  *     ∂Wz += x_t ⊗ ∂z̃ (resp. Wr, Wh), ∂Uz += h_{t−1} ⊗ ∂z̃ (resp. Ur),
  *     ∂Uh += h_{t−1} ⊗ (∂c̃⊙r)
  *     ∂x_t = Wz·∂z̃ + Wr·∂r̃ + Wh·∂c̃ → scattered into the 3 embedding rows
  * Every equation above is verified against central finite differences over
  * EVERY parameter in GruTrainerSpec (the standard way to gate hand-written
  * backprop), and the loop is gated by the same loss-falls / margin /
  * bit-identical-determinism tests as the head trainer.
  *
  * Distribution shape: `train` runs `Trainer.fit`, the one training loop
  * both trainers share (broadcast params → per-partition partial gradients
  * over the deterministic example layout → deterministic tree reduce →
  * per-tensor clip_by_norm(3) + Adam → rebroadcast); only the example encoder,
  * `forwardBackward` and `Dims.tensorBounds` are this model's own. The
  * gradient vector is |embed| + 6·H² ≈ 137k doubles at the default dims —
  * ~1 MB per partition partial, bounded by MODEL size × partition count
  * (not data).
  */
object GruTrainer {

  /** Flat parameter layout: [embed(V×E); Wz(E×H); Uz(H×H); Wr; Ur; Wh; Uh],
    * row-major. E == H is required (the bilinear head contracts ex ⊙ h ⊙ ey).
    */
  final case class Dims(v: Int, e: Int, h: Int) {
    require(e == h, s"bilinear head needs embedDim == hidden, got $e != $h")
    val embedOff = 0
    val wzOff: Int = v * e
    val uzOff: Int = wzOff + e * h
    val wrOff: Int = uzOff + h * h
    val urOff: Int = wrOff + e * h
    val whOff: Int = urOff + h * h
    val uhOff: Int = whOff + e * h
    val size: Int = uhOff + h * h
    /** Per-tensor slice bounds for clip_by_norm (one slice per tf variable). */
    def tensorBounds: Seq[(Int, Int)] = Seq(
      (embedOff, wzOff), (wzOff, uzOff), (uzOff, wrOff), (wrOff, urOff),
      (urOff, whOff), (whOff, uhOff), (uhOff, size))
  }

  /** Params flattened from the frozen scorer's seeded init, so training
    * starts exactly where inference stands (fine-tuning shape).
    */
  def initFromSeeded(w: NeuralScorer.Weights): (Dims, Array[Double]) = {
    val d = Dims(w.vocabBuckets, w.embedDim, w.hidden)
    val p = new Array[Double](d.size)
    var k = 0
    def put(m: Array[Array[Float]]): Unit = {
      var i = 0
      while (i < m.length) {
        var j = 0
        while (j < m(i).length) { p(k) = m(i)(j); k += 1; j += 1 }
        i += 1
      }
    }
    put(w.embed); put(w.wz); put(w.uz); put(w.wr); put(w.ur); put(w.wh); put(w.uh)
    (d, p)
  }

  /** One pre-encoded training example: hashed bucket ids only (the string →
    * bucket hashing happens once, not once per epoch).
    */
  final case class GruExample(xB: Int, yB: Int, steps: Array[Array[Int]],
                              label: Int)

  /** Forward + loss only — the function the finite-difference spec perturbs
    * (the gradient side-effect on a scratch array is discarded).
    */
  def forwardLoss(d: Dims, p: Array[Double], ex: GruExample): Double =
    forwardBackward(d, p, ex, new Array[Double](d.size))._1

  /** Forward + backward for one example; accumulates ∂loss/∂p into `grad`.
    * Returns (loss, logit).
    */
  def forwardBackward(d: Dims, p: Array[Double], ex: GruExample,
                      grad: Array[Double]): (Double, Double) = {
    val t0 = ex.steps.length
    val xs = new Array[Array[Double]](t0)
    val zs = new Array[Array[Double]](t0)
    val rs = new Array[Array[Double]](t0)
    val cs = new Array[Array[Double]](t0)
    val qs = new Array[Array[Double]](t0)
    val hs = new Array[Array[Double]](t0 + 1)
    hs(0) = new Array[Double](d.h)
    var t = 0
    while (t < t0) {
      val x = new Array[Double](d.e)
      var s = 0
      while (s < ex.steps(t).length) {
        val base = d.embedOff + ex.steps(t)(s) * d.e
        var i = 0
        while (i < d.e) { x(i) += p(base + i); i += 1 }
        s += 1
      }
      val hPrev = hs(t)
      val z = new Array[Double](d.h); val r = new Array[Double](d.h)
      val c = new Array[Double](d.h); val q = new Array[Double](d.h)
      val hN = new Array[Double](d.h)
      var j = 0
      while (j < d.h) {
        var zj = 0.0; var rj = 0.0; var aj = 0.0; var qj = 0.0
        var i = 0
        while (i < d.e) {
          zj += x(i) * p(d.wzOff + i * d.h + j)
          rj += x(i) * p(d.wrOff + i * d.h + j)
          aj += x(i) * p(d.whOff + i * d.h + j)
          i += 1
        }
        i = 0
        while (i < d.h) {
          zj += hPrev(i) * p(d.uzOff + i * d.h + j)
          rj += hPrev(i) * p(d.urOff + i * d.h + j)
          qj += hPrev(i) * p(d.uhOff + i * d.h + j)
          i += 1
        }
        val zg = 1.0 / (1.0 + math.exp(-zj))
        val rg = 1.0 / (1.0 + math.exp(-rj))
        val cg = math.tanh(aj + rg * qj)
        z(j) = zg; r(j) = rg; c(j) = cg; q(j) = qj
        hN(j) = (1 - zg) * hPrev(j) + zg * cg
        j += 1
      }
      xs(t) = x; zs(t) = z; rs(t) = r; cs(t) = c; qs(t) = q; hs(t + 1) = hN
      t += 1
    }
    val hT = hs(t0)
    val exB = d.embedOff + ex.xB * d.e
    val eyB = d.embedOff + ex.yB * d.e
    var logit = 0.0
    var i = 0
    while (i < d.h) { logit += p(exB + i) * hT(i) * p(eyB + i); i += 1 }
    val y = ex.label.toDouble
    val loss = Losses.sigmoidXent(logit, y)
    val err = 1.0 / (1.0 + math.exp(-logit)) - y

    // ---- backward ----
    // bilinear head: ∂ex, ∂ey (scatter; += handles x==y aliasing exactly),
    // and the seed ∂h_T
    var dh = new Array[Double](d.h)
    i = 0
    while (i < d.h) {
      grad(exB + i) += err * hT(i) * p(eyB + i)
      grad(eyB + i) += err * p(exB + i) * hT(i)
      dh(i) = err * p(exB + i) * p(eyB + i)
      i += 1
    }
    t = t0 - 1
    while (t >= 0) {
      val x = xs(t); val z = zs(t); val r = rs(t); val c = cs(t); val q = qs(t)
      val hPrev = hs(t)
      val dzT = new Array[Double](d.h) // pre-activation gate grads
      val drT = new Array[Double](d.h)
      val dcT = new Array[Double](d.h) // pre-tanh
      val dhPrev = new Array[Double](d.h)
      val dx = new Array[Double](d.e)
      var j = 0
      while (j < d.h) {
        val dhj = dh(j)
        dcT(j) = dhj * z(j) * (1 - c(j) * c(j))
        dzT(j) = dhj * (c(j) - hPrev(j)) * z(j) * (1 - z(j))
        drT(j) = dcT(j) * q(j) * r(j) * (1 - r(j))
        dhPrev(j) = dhj * (1 - z(j))
        j += 1
      }
      // weight grads + input/recurrent backprop (row-major walks)
      i = 0
      while (i < d.e) {
        val xi = x(i)
        var dxi = 0.0
        var jj = 0
        while (jj < d.h) {
          grad(d.wzOff + i * d.h + jj) += xi * dzT(jj)
          grad(d.wrOff + i * d.h + jj) += xi * drT(jj)
          grad(d.whOff + i * d.h + jj) += xi * dcT(jj)
          dxi += p(d.wzOff + i * d.h + jj) * dzT(jj) +
                 p(d.wrOff + i * d.h + jj) * drT(jj) +
                 p(d.whOff + i * d.h + jj) * dcT(jj)
          jj += 1
        }
        dx(i) = dxi
        i += 1
      }
      i = 0
      while (i < d.h) {
        val hi = hPrev(i)
        var acc = 0.0
        var jj = 0
        while (jj < d.h) {
          val dcr = dcT(jj) * r(jj)
          grad(d.uzOff + i * d.h + jj) += hi * dzT(jj)
          grad(d.urOff + i * d.h + jj) += hi * drT(jj)
          grad(d.uhOff + i * d.h + jj) += hi * dcr
          acc += p(d.uzOff + i * d.h + jj) * dzT(jj) +
                 p(d.urOff + i * d.h + jj) * drT(jj) +
                 p(d.uhOff + i * d.h + jj) * dcr
          jj += 1
        }
        dhPrev(i) += acc
        i += 1
      }
      // scatter ∂x_t into this step's modality embedding rows (x is their sum)
      var s = 0
      while (s < ex.steps(t).length) {
        val base = d.embedOff + ex.steps(t)(s) * d.e
        i = 0
        while (i < d.e) { grad(base + i) += dx(i); i += 1 }
        s += 1
      }
      dh = dhPrev
      t -= 1
    }
    (loss, logit)
  }

  /** Train the FULL model for `epochs` over candidates + §2.9 negatives
    * through `Trainer.fit` — the same loop, epoch-metrics schema,
    * determinism contract, checkpoint/resume, and `stepsPerEpoch`
    * micro-batch semantics as `Trainer.trainNegSampling`, over the bucket-id
    * examples and the full-model `forwardBackward`.
    */
  def train(cands: Dataset[SdpCandidate], epochs: Int = 8,
            negPer: Int = 2, seed: Long = 42L, lr: Double = 0.02,
            ckptTable: Option[String] = None, ckptEvery: Int = 4,
            parts: Int = 32, stepsPerEpoch: Int = 1): DataFrame = {
    import cands.sparkSession.implicits._
    val (dims, p0) = initFromSeeded(NeuralScorer.seededWeights(seed))
    val v = dims.v
    val examples = Trainer.layout(cands, negPer, seed, parts) { r =>
      val steps = r.path.map { st =>
        Array(math.floorMod(st.word.hashCode, v),
          math.floorMod(("d:" + st.dep).hashCode, v),
          math.floorMod(("p:" + st.pos).hashCode, v))
      }
      GruExample(math.floorMod(r.x.hashCode, v), math.floorMod(r.y.hashCode, v),
        steps, r.label)
    }
    Trainer.fit(examples, p0, dims.tensorBounds, epochs, lr, ckptTable, ckptEvery, parts, stepsPerEpoch,
      Map("trainer" -> "gru", "seed" -> seed.toString, "negPer" -> negPer.toString)
    )(_.label)(forwardBackward(dims, _, _, _))
  }
}
