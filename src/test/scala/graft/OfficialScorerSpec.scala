package graft

import graft.eval.{Eval, EvalStats}

/** Both finishes of the evaluation aggregator pinned on one hand-built set
  * of (pred, gold) pairs, so the official-scorer path runs even where the
  * scorer's reference samples (ScorerGoldenSpec) are absent. The set holds
  * a correct prediction, a direction-wrong one, a skipped gold item, a
  * predicted relation that never appears in gold, and `Other`.
  */
class OfficialScorerSpec extends SparkSuite {
  import spark.implicits._

  private val pairs = Seq(
    "Cause-Effect(e1,e2)" -> "Cause-Effect(e1,e2)",
    "Cause-Effect(e1,e2)" -> "Cause-Effect(e1,e2)",
    "Cause-Effect(e2,e1)" -> "Cause-Effect(e1,e2)",        // wrong direction
    Eval.SkipLabel -> "Component-Whole(e1,e2)",            // skipped gold item
    "Component-Whole(e1,e2)" -> "Component-Whole(e1,e2)",
    "Other" -> "Component-Whole(e2,e1)",
    "Message-Topic(e1,e2)" -> "Other",                     // never gold
    "Other" -> "Other")

  test("evaluateOfficial: collapsed classes from gold, direction errors in P and R, skips in R only") {
    // Cause-Effect: tp 2, pred 3, gold 3; Component-Whole: tp 1, pred 1,
    // gold 3; Message-Topic is never gold, so it is in no average
    val expected = EvalStats(
      accuracy = 4.0 / 8,
      microP = 3.0 / 4, microR = 3.0 / 6, microF1 = 0.6,
      macroP = (2.0 / 3 + 1.0) / 2, macroR = (2.0 / 3 + 1.0 / 3) / 2,
      macroF1 = 0.5833333333333333,
      n = 8)
    assert(Eval.evaluateOfficial(pairs.toDS().repartition(3)) == expected)
  }

  test("evaluate: direction-distinct classes, every class but Other scored") {
    // six scored classes, the skip pseudo-label among them (Other is in no
    // sum but counts in accuracy and n): Cause-Effect(e1,e2) P 1, R 2/3;
    // Component-Whole(e1,e2) P 1, R 1/2; the other four P = R = 0
    val expected = EvalStats(
      accuracy = 0.5,
      microP = 3.0 / 6, microR = 3.0 / 6, microF1 = 0.5,
      macroP = 0.3333333333333333, macroR = 0.19444444444444442,
      macroF1 = 0.24444444444444446,
      n = 8)
    assert(Eval.evaluate(pairs.toDS().repartition(3)) == expected)
  }
}
