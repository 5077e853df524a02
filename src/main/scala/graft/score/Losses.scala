package graft.score

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Training-side loss + optimizer operators (SURVEY.md §2 M4/M6/M7/M12),
  * restated as BATCH computations: the engine does not train (no trained
  * artifact ships offline, SURVEY §3.2), but the loss forward passes and the
  * optimizer update rule are deterministic dataflow ops a training job would
  * run per batch, so they belong to the operator surface.
  *
  * Two faces per op:
  *  - a `Column` builder (pure `org.apache.spark.sql.functions` — codegen'd,
  *    UDF-free, oracle-expressible in ANSI SQL; q47/q48) for corpus-scale
  *    batch evaluation;
  *  - a scalar/array Scala form for model-side composition and the
  *    hand-computed fixtures in ModelOpsSpec.
  */
object Losses {

  // ---- M4: sigmoid cross-entropy with logits (relembed.py:284-287) ----
  // The numerically stable identity TF uses:
  //   xent(s, y) = max(s, 0) − s·y + ln(1 + e^(−|s|))
  // ln(1+e) rather than log1p(e): the oracle engines have no log1p, and
  // value-exact comparison requires the SAME expression tree on both sides
  // (e^(−|s|) here is never small enough for log1p to matter).
  def sigmoidXentCol(logit: Column, label: Column): Column =
    greatest(logit, lit(0.0)) - logit * label + log(lit(1.0) + exp(-abs(logit)))

  def sigmoidXent(logit: Double, label: Double): Double =
    math.max(logit, 0.0) - logit * label + math.log1p(math.exp(-math.abs(logit)))

  // ---- M6: sparse softmax cross-entropy (relembed.py:419-426) ----
  //   xent(logits, k) = logsumexp(logits) − logits(k)
  def softmaxXent(logits: Array[Double], label: Int): Double = {
    val m = logits.max
    var s = 0.0; var i = 0
    while (i < logits.length) { s += math.exp(logits(i) - m); i += 1 }
    math.log(s) + m - logits(label)
  }

  /** Column form for a fixed-width 3-logit head (q47): stable logsumexp. */
  def softmaxXent3Col(l0: Column, l1: Column, l2: Column, label: Column): Column = {
    val m = greatest(l0, l1, l2)
    val lse = log(exp(l0 - m) + exp(l1 - m) + exp(l2 - m)) + m
    lse - when(label === 0, l0).when(label === 1, l1).otherwise(l2)
  }

  // ---- M12: margin ranking loss (Tensor Sandbox cells 6-9) ----
  //   hinge(m, s_true, s) = max(0, m − s_true + s), `Other` unscored
  def marginRankCol(margin: Column, sTrue: Column, sOther: Column): Column =
    greatest(lit(0.0), margin - sTrue + sOther)

  def marginRank(margin: Double, sTrue: Double, sOther: Double): Double =
    math.max(0.0, margin - sTrue + sOther)

  // ---- M7: Adam with per-tensor clip_by_norm (relembed.py:449-471) ----
  // tf.clip_by_norm clips EACH gradient tensor by ITS OWN L2 norm (not the
  // global norm): g ← g · min(1, maxNorm / ‖g‖).
  def clipByNorm(g: Array[Double], maxNorm: Double): Array[Double] = {
    val n = math.sqrt(g.map(x => x * x).sum)
    if (n <= maxNorm) g else g.map(_ * (maxNorm / n))
  }

  /** One Adam step on a (param, m, v) tensor given a clipped gradient.
    * TF-1 AdamOptimizer semantics: mₜ = β₁m + (1−β₁)g; vₜ = β₂v + (1−β₂)g²;
    * p ← p − lr·√(1−β₂ᵗ)/(1−β₁ᵗ) · mₜ/(√vₜ + ε).
    */
  def adamStep(param: Array[Double], grad: Array[Double],
               m: Array[Double], v: Array[Double], t: Int,
               lr: Double = 0.001, b1: Double = 0.9, b2: Double = 0.999,
               eps: Double = 1e-8, maxGradNorm: Double = 3.0)
      : (Array[Double], Array[Double], Array[Double]) = {
    val g = clipByNorm(grad, maxGradNorm)
    val mN = new Array[Double](param.length)
    val vN = new Array[Double](param.length)
    val pN = new Array[Double](param.length)
    val corr = lr * math.sqrt(1 - math.pow(b2, t)) / (1 - math.pow(b1, t))
    var i = 0
    while (i < param.length) {
      mN(i) = b1 * m(i) + (1 - b1) * g(i)
      vN(i) = b2 * v(i) + (1 - b2) * g(i) * g(i)
      pN(i) = param(i) - corr * mN(i) / (math.sqrt(vN(i)) + eps)
      i += 1
    }
    (pN, mN, vN)
  }

  /** Column form of the first Adam step (t = 1, zero moments) AFTER a
    * per-tensor clip whose factor the caller supplies — the distributed
    * "parameter-server step" shape: each row is one coordinate, the clip
    * factor comes from a per-tensor aggregation (q48). Uses only
    * +,−,×,÷,√ — IEEE-correctly-rounded, so bit-identical across engines.
    */
  def adamFirstStepCol(param: Column, grad: Column, clipFactor: Column,
                       lr: Double = 0.001, b2: Double = 0.999,
                       eps: Double = 1e-8): Column = {
    val g = grad * clipFactor
    // exactly adamStep at t=1 (zero moments), algebraically reduced:
    // corr·m₁ = lr·√(1−β₂)·g and √v₁ = √(1−β₂)·|g|, so
    // p ← p − lr·√(1−β₂)·g / (√(1−β₂)·|g| + ε). The oracle SQL must use the
    // SAME expression tree — +,−,×,÷,√ are correctly rounded IEEE, so equal
    // structure ⇒ bit-equal results across engines.
    val s2 = sqrt(lit(1.0) - lit(b2))
    param - lit(lr) * (s2 * g) / (s2 * sqrt(g * g) + lit(eps))
  }
}
