package graft.eval

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Evaluation as one typed Aggregator (SURVEY.md A9/A10; reference:
  * experiment_helper.py:37-88 and the SemEval perl scorer): an associative
  * confusion buffer with two finishes —
  *  - `evaluate`: per-full-label (direction-distinct) macro, the
  *    experiment_helper.py in-training view;
  *  - `evaluateOfficial`: the scorer's official "(9+1)-way with
  *    directionality" metric — direction-collapsed classes, direction errors
  *    penalized in both P and R — anchored against the scorer's shipped
  *    result_scores{1,2,3,5}.txt golden samples by ScorerGoldenSpec.
  */
case class EvalStats(
    accuracy: Double,
    microP: Double,
    microR: Double,
    microF1: Double,
    macroP: Double,
    macroR: Double,
    macroF1: Double,
    n: Long)

object Eval {

  /** Confusion counts keyed by (pred, label). */
  type Confusion = Map[(String, String), Long]

  /** Pseudo-prediction for gold items the system skipped (no answer line).
    * The official scorer counts skips in each relation's R denominator but in
    * no P denominator; feeding (SkipLabel, gold) pairs reproduces that.
    */
  val SkipLabel = "_SKIP_"

  /** Relation name with the directionality suffix stripped:
    * "Cause-Effect(e2,e1)" → "Cause-Effect"; "Other" → "Other".
    */
  def relationOf(label: String): String = {
    val i = label.indexOf('(')
    if (i < 0) label else label.substring(0, i)
  }

  /** The OFFICIAL SemEval-2010 Task 8 metric — "(9+1)-way evaluation taking
    * directionality into account" (scorer README.txt; semantics reverse-
    * engineered from the shipped result_scores{1,2,3,5}.txt samples, which
    * ScorerGoldenSpec replays):
    *
    *  - classes are RELATIONS (direction collapsed) that appear in the GOLD
    *    key, excluding 'Other' — a relation predicted but never gold (e.g.
    *    Message-Topic in sample pair 3) contributes to no average;
    *  - TP(r) requires the full label to match, direction included, so a
    *    direction-wrong prediction is simultaneously a false positive
    *    (it stays in P(r)'s denominator — the scorer's xDIRx column) and a
    *    false negative (the gold item is not recovered);
    *  - skipped gold items count in R(r)'s denominator only;
    *  - micro-averages sum TP / pred / gold over the same class set;
    *  - macro = unweighted mean of per-class P, R, F1.
    */
  def officialStats(conf: Confusion): EvalStats = {
    val scored = conf.keys.map(k => relationOf(k._2)).toSeq.distinct.sorted
      .filterNot(r => r == "Other" || r == SkipLabel)
    prf1(conf, scored, relationOf,
      conf.collect { case ((p, l), c) if p == l && p != SkipLabel => c }.sum)
  }

  /** Per-full-label stats: every predicted or gold label not in
    * `excludeFromMacro` is a class of the macro and micro averages.
    */
  def statsFromConfusion(conf: Confusion, excludeFromMacro: Set[String]): EvalStats = {
    val classes = (conf.keys.map(_._1) ++ conf.keys.map(_._2)).toSeq.distinct.sorted
    prf1(conf, classes.filterNot(excludeFromMacro), identity,
      conf.collect { case ((p, l), c) if p == l => c }.sum)
  }

  /** P/R/F1 over the `scored` classes, each label mapped to its class by
    * `classOf`: a true positive needs the full label to match, and the
    * micro-averages sum TP / pred / gold over the scored classes only
    * (official scorer excludes 'Other' from these sums — experiment_helper.py:52-66
    * skip_other path). `correct` is the accuracy's numerator.
    */
  private def prf1(conf: Confusion, scored: Seq[String], classOf: String => String,
                   correct: Long): EvalStats = {
    val n = conf.values.sum
    def tp(c: String) = conf.collect { case ((p, l), v) if p == l && classOf(p) == c => v }.sum
    def predCount(c: String) = conf.collect { case ((p, _), v) if classOf(p) == c => v }.sum
    def labelCount(c: String) = conf.collect { case ((_, l), v) if classOf(l) == c => v }.sum
    def safeDiv(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    val perP = scored.map(c => safeDiv(tp(c).toDouble, predCount(c).toDouble))
    val perR = scored.map(c => safeDiv(tp(c).toDouble, labelCount(c).toDouble))
    val perF = perP.zip(perR).map { case (p, r) => safeDiv(2 * p * r, p + r) }

    val microTp = scored.map(tp).sum.toDouble
    val mP = safeDiv(microTp, scored.map(predCount).sum.toDouble)
    val mR = safeDiv(microTp, scored.map(labelCount).sum.toDouble)

    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

    EvalStats(accuracy = safeDiv(correct.toDouble, n.toDouble),
      microP = mP, microR = mR, microF1 = safeDiv(2 * mP * mR, mP + mR),
      macroP = mean(perP), macroR = mean(perR), macroF1 = mean(perF), n = n)
  }

  /** Typed Aggregator over (pred, label) pairs: partial confusion maps merge
    * associatively (partition-order invariant), and `finishWith` computes
    * the stats once at the end. One pass, map-side combine for free.
    */
  private class ConfusionAggregator(finishWith: Confusion => EvalStats)
      extends Aggregator[(String, String), Confusion, EvalStats] {
    override def zero: Confusion = Map.empty
    override def reduce(b: Confusion, a: (String, String)): Confusion =
      b.updated(a, b.getOrElse(a, 0L) + 1L)
    override def merge(b1: Confusion, b2: Confusion): Confusion =
      b2.foldLeft(b1) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0L) + v) }
    override def finish(r: Confusion): EvalStats = finishWith(r)
    override def bufferEncoder: Encoder[Confusion] = Encoders.kryo[Confusion]
    override def outputEncoder: Encoder[EvalStats] = Encoders.product[EvalStats]
  }

  /** Evaluate a Dataset of (pred, label) string pairs. */
  def evaluate(pairs: Dataset[(String, String)],
               excludeFromMacro: Set[String] = Set("Other")): EvalStats =
    pairs.select(new ConfusionAggregator(statsFromConfusion(_, excludeFromMacro)).toColumn).first()

  /** Evaluate with the official SemEval scorer semantics (skipped gold items
    * must be fed as (SkipLabel, gold) pairs).
    */
  def evaluateOfficial(pairs: Dataset[(String, String)]): EvalStats =
    pairs.select(new ConfusionAggregator(officialStats).toColumn).first()
}
