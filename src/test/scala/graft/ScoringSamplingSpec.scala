package graft

import graft.corpus.Corpus
import graft.extract.Extract
import graft.functions.{Hamming64, Ranks}
import graft.sample.NegativeSampling
import graft.score.{Labels, NeuralScorer}
import org.apache.spark.sql.functions._

class ScoringSamplingSpec extends SparkSuite {
  import spark.implicits._

  private lazy val cands =
    Extract.candidates(Extract.docsToSentences(Corpus.fromDocuments(spark, sfDir))).cache()

  test("neural scorer: deterministic across batch sizes and partitionings") {
    val a = sortedRows(NeuralScorer.score(cands, batchSize = 7).toDF())
    val b = sortedRows(NeuralScorer.score(cands.repartition(9), batchSize = 128).toDF())
    assert(a == b)
    assert(a.nonEmpty)
    // probabilities are valid softmax outputs; predicates from the label space
    assert(a.forall { t => val score = t.getAs[Double]("score"); score > 0 && score <= 1.0 })
    val preds = a.map(_.getAs[String]("pred")).toSet
    assert(preds.subsetOf(Labels.all.map(Labels.collapse).toSet))
  }

  test("neural scorer weights are a stable seeded fixture") {
    val w1 = NeuralScorer.seededWeights(42L)
    val w2 = NeuralScorer.seededWeights(42L)
    assert(w1.embed(0).toSeq == w2.embed(0).toSeq)
    assert(w1.wOut(5).toSeq == w2.wOut(5).toSeq)
    val w3 = NeuralScorer.seededWeights(43L)
    assert(w1.embed(0).toSeq != w3.embed(0).toSeq)
    // GRU encoding depends on path order
    val c = cands.filter(_.path.length >= 3).head()
    val rev = c.copy(path = c.path.reverse)
    assert(NeuralScorer.encode(w1, c).toSeq != NeuralScorer.encode(w1, rev).toSeq)
  }

  test("negative sampling: 1 positive + negPer negatives, first swaps targets") {
    val targets = cands.select("x").distinct().as[String].collect().sorted(NegativeSampling.poolOrdering).toIndexedSeq
    val out = NegativeSampling.withNegatives(cands, targets, targets, negPer = 3).cache()
    assert(out.count() == cands.count() * 4)
    assert(out.filter(_.label == 1).count() == cands.count())
    // copy 1 is the swapped pair
    val base = cands.limit(1).head()
    val negs = out.filter(l => l.cand.doc_id == base.doc_id &&
      l.cand.span_idx == base.span_idx && l.copy == 1).collect()
    assert(negs.exists(n => n.cand.x == base.y && n.cand.y == base.x))
    // deterministic under repartitioning (compared as rows — the Array path
    // field has reference equality inside a case class)
    val out2 = NegativeSampling.withNegatives(cands.repartition(11), targets, targets, negPer = 3)
    assert(sortedRows(out2.toDF()) == sortedRows(out.toDF()))
    out.unpersist()
  }

  test("poolOrdering matches Spark's binary string sort where UTF-16 order diverges") {
    // U+E000 sorts after U+10000 in UTF-16 code units (surrogates < 0xE000)
    // but BEFORE it in UTF-8 bytes — the case that silently remaps pool
    // indices if broadcast pools use plain .sorted (ADVICE round 2)
    val tricky = Seq("\uD800\uDC00" /* U+10000 */, "\uE000", "plain")
    assert(tricky.sorted != tricky.sorted(NegativeSampling.poolOrdering),
      "expected UTF-16 vs UTF-8 order divergence on this input")
    val sparkOrder = tricky.toDF("surface").orderBy(col("surface").asc)
      .as[String].collect().toSeq
    assert(sparkOrder == tricky.sorted(NegativeSampling.poolOrdering),
      s"poolOrdering disagrees with Spark's sort: $sparkOrder")
  }

  test("distributed negative sampling equals the broadcast path row-for-row") {
    val targets = cands.select("x").distinct().as[String].collect().sorted(NegativeSampling.poolOrdering).toIndexedSeq
    val viaBroadcast = NegativeSampling
      .withNegatives(cands, targets, targets, negPer = 3, negLevel = 1)
      .collect()
      .map(l => (l.cand.doc_id, l.cand.span_idx, l.cand.x, l.cand.y,
        l.cand.path.map(p => (p.word, p.dep, p.pos)).toSeq, l.cand.source, l.label, l.copy))
      .toSet
    val viaJoin = NegativeSampling
      .withNegativesDistributed(cands, cands.select(col("x")), negPer = 3, negLevel = 1)
      .as[(String, Int, String, String, Array[graft.model.PathStep], String, Int, Int)]
      .collect()
      .map { case (d, s, x, y, p, src, lab, cp) =>
        (d, s, x, y, p.map(st => (st.word, st.dep, st.pos)).toSeq, src, lab, cp) }
      .toSet
    assert(viaJoin == viaBroadcast)
    assert(viaJoin.nonEmpty)
  }

  test("distributed negative sampling runs only its pool's sorted pass when called") {
    // the pool size is the row count the sorted pass collects: the call runs
    // exactly the jobs of ranking the pool, and no count of its own
    cands.count()
    val pool = cands.select(col("x"))
    val (_, rankJobs) = jobsDuring(Ranks.globalRank(pool.toDF("surface").distinct(),
      Seq(col("surface").asc), lit(1L), "rn", "cum", "total"))
    val (_, jobs) = jobsDuring(NegativeSampling.withNegativesDistributed(cands, pool, negPer = 3, negLevel = 1))
    assert(rankJobs.nonEmpty && jobs.size == rankJobs.size,
      s"${jobs.size} jobs for the call, ${rankJobs.size} for its pool's rank")
  }

  test("hamming64 native expression: eval, codegen, SQL registration") {
    val df = Seq((0L, 0L), (0L, -1L), (0xF0L, 0x0FL), (123L, 123L)).toDF("a", "b")
    val got = df.select(Hamming64.hamming64(col("a"), col("b"))).as[Int].collect().toSeq
    assert(got == Seq(0, 64, 8, 0))
    Hamming64.register(spark)
    df.createOrReplaceTempView("hamming_in")
    val sqlGot = spark.sql("SELECT hamming64(a, b) FROM hamming_in").as[Int].collect().toSeq
    assert(sqlGot == Seq(0, 64, 8, 0))
    // stays inside whole-stage codegen (a LocalTableScan never enters
    // codegen, so probe with a range source)
    val plan = spark.range(10)
      .select(Hamming64.hamming64(col("id"), lit(3L)).as("h"))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact plan form
    assert(plan.contains("*(1) Project [hamming64"), s"expected codegen:\n$plan")
    val vals = spark.range(4).select(Hamming64.hamming64(col("id"), lit(0L)))
      .as[Int].collect().toSeq
    assert(vals == Seq(0, 1, 1, 2))
  }
}
