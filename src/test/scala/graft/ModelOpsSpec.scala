package graft

import graft.corpus.Corpus
import graft.eval.Eval
import graft.extract.{Extract, Sdp}
import graft.model.{PathStep, SdpCandidate}
import graft.score.{NeuralScorer, TfidfBaseline}
import org.apache.spark.sql.functions._

/** M3/M8/M10/M11/M16 + faithful P12 + O1 — the round-2 operator additions. */
class ModelOpsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val cands =
    Extract.candidates(Extract.docsToSentences(Corpus.fromDocuments(spark, sfDir))).cache()

  private def toyCand(xw: String, yw: String, mid: Seq[String]): SdpCandidate = {
    val steps = (PathStep("<X>", "nsubj", "NOUN") +:
      mid.map(w => PathStep(w, "prep", "ADP")).toArray[PathStep] :+
      PathStep("<Y>", "pobj", "NOUN")).toArray
    SdpCandidate("d0", 0, xw, yw, steps, "TEST")
  }

  test("M3 bilinear score matches the hand-computed x^T diag(h) y") {
    val w = NeuralScorer.seededWeights(42L)
    val c = toyCand("alpha", "beta", Seq("of"))
    val h = NeuralScorer.encode(w, c)
    val ex = w.embed(math.floorMod("alpha".hashCode, w.vocabBuckets))
    val ey = w.embed(math.floorMod("beta".hashCode, w.vocabBuckets))
    val expected = (0 until w.embedDim).map(i => ex(i).toDouble * h(i) * ey(i)).sum
    assert(math.abs(NeuralScorer.bilinearScore(w, c, h) - expected) < 1e-9)
    // and the Dataset API carries the same value, scaled
    val row = NeuralScorer.unsupScores(Seq(c).toDS()).collect().head
    assert(row.getAs[Long]("bilinear_upm") == math.floor(expected * 1e6).toLong)
  }

  test("M10 single-endpoint scores are direction-sensitive dots") {
    val w = NeuralScorer.seededWeights(42L)
    val c = toyCand("alpha", "beta", Seq("of"))
    val h = NeuralScorer.encode(w, c)
    val sx = NeuralScorer.singleScore(w, "alpha", h)
    val sy = NeuralScorer.singleScore(w, "beta", h)
    assert(sx != sy, "distinct targets must score differently in general")
    val ex = w.embed(math.floorMod("alpha".hashCode, w.vocabBuckets))
    assert(math.abs(sx - (0 until w.embedDim).map(i => h(i).toDouble * ex(i)).sum) < 1e-9)
  }

  test("M11 mean composition is the masked average and order-insensitive") {
    val w = NeuralScorer.seededWeights(42L)
    val a = toyCand("alpha", "beta", Seq("of", "under"))
    val b = toyCand("alpha", "beta", Seq("under", "of")) // same bag, other order
    // equal up to float summation order (the average is a float fold)
    val (ma, mb) = (NeuralScorer.encodeMean(w, a), NeuralScorer.encodeMean(w, b))
    assert(ma.zip(mb).forall { case (u, v) => math.abs(u - v) < 1e-5 })
    // GRU is order-sensitive on the same pair — the two composers differ
    assert(NeuralScorer.encode(w, a).toSeq != NeuralScorer.encode(w, b).toSeq)
    // scoreMean produces valid triples over real candidates
    val out = NeuralScorer.scoreMean(cands.limit(50)).collect()
    assert(out.nonEmpty && out.forall(t => t.score > 0 && t.score <= 1.0))
  }

  test("M8 sim reps are unit-norm [x.h ; y] vectors and search-ready") {
    val w = NeuralScorer.seededWeights(42L)
    val c = toyCand("alpha", "beta", Seq("of"))
    val h = NeuralScorer.encode(w, c)
    val rep = NeuralScorer.simRep(w, c, h)
    assert(rep.length == 2 * w.embedDim)
    val norm = math.sqrt(rep.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    // front half ∝ x⊙h, back half ∝ y
    val ex = w.embed(math.floorMod("alpha".hashCode, w.vocabBuckets))
    val ey = w.embed(math.floorMod("beta".hashCode, w.vocabBuckets))
    val ratio = rep(w.embedDim) / ey(0)
    assert(math.abs(rep(0) / (ex(0) * h(0)) - ratio) < 1e-3)
    // table + top-k runs end-to-end and is deterministic across partitionings
    val t1 = sortedRows(NeuralScorer.simRepTable(cands.limit(40)))
    val t2 = sortedRows(NeuralScorer.simRepTable(cands.limit(40).repartition(7)))
    assert(t1 == t2 && t1.nonEmpty)
  }

  test("M16 TF-IDF + LR baseline beats random macro-F1 on held-out fold") {
    val preds = TfidfBaseline.predictions(cands)
      .select(col("pred_label"), col("label")).as[(String, String)]
    val stats = Eval.evaluate(preds, excludeFromMacro = Set("Other"))
    assert(stats.n > 50, s"need a real valid fold, got n=${stats.n}")
    // 18 scored classes → random macro-F1 ≈ 0.06; the baseline must clear 3×
    assert(stats.macroF1 > 0.18, s"macroF1=${stats.macroF1} too close to random")
  }

  test("P12 faithful reverse: placeholder rewrite, target swap, involution") {
    val c = toyCand("alpha", "beta", Seq("of", "under"))
    val r = Sdp.reverseCandidate(c)
    assert(r.x == "beta" && r.y == "alpha")
    assert(r.path.head.word == "<X>" && r.path.last.word == "<Y>")
    // interior steps reversed wholesale, (dep,pos) travel with their steps
    assert(r.path.map(s => (s.dep, s.pos)).toSeq ==
      c.path.reverse.map(s => (s.dep, s.pos)).toSeq)
    assert(r.path(1).word == "under" && r.path(2).word == "of")
    // involution on real candidates
    val sample = cands.limit(100).collect()
    sample.foreach { cc =>
      val rr = Sdp.reverseCandidate(Sdp.reverseCandidate(cc))
      assert(rr.x == cc.x && rr.y == cc.y)
      assert(rr.path.map(s => (s.word, s.dep, s.pos)).toSeq ==
        cc.path.map(s => (s.word, s.dep, s.pos)).toSeq)
    }
  }

  test("M9 cluster-pair softmax: valid distribution, observed pair consistent") {
    val w = NeuralScorer.seededWeights(42L)
    val c = toyCand("alpha", "beta", Seq("of"))
    val h = NeuralScorer.encode(w, c)
    val pair = NeuralScorer.clusterOf("alpha") * NeuralScorer.nClusters +
      NeuralScorer.clusterOf("beta")
    val (argmax, prob) = NeuralScorer.clusterPairSoftmax(w, h, pair)
    assert(argmax >= 0 && argmax < NeuralScorer.nClusters * NeuralScorer.nClusters)
    assert(prob > 0 && prob <= 1.0)
    // probability of the argmax class dominates the observed class
    val (_, probAtArgmax) = NeuralScorer.clusterPairSoftmax(w, h, argmax)
    assert(probAtArgmax >= prob)
    // Scala-side cluster id matches the q32 oracle's md5num % 64 semantics
    assert(NeuralScorer.clusterOf("alpha") ==
      (graft.functions.Portable.md5numScala("alpha") % 64).toInt)
    // Dataset pass runs over real candidates and is partition-invariant
    val a = sortedRows(NeuralScorer.clusterPairScores(cands.limit(40)))
    val b = sortedRows(NeuralScorer.clusterPairScores(cands.limit(40).repartition(7)))
    assert(a == b && a.nonEmpty)
  }

  test("S9 TSV sink writes readable tab-separated prediction shards") {
    import graft.tableio.TableIO
    val dir = java.nio.file.Files.createTempDirectory("graft-tsv").toString + "/preds"
    val triples = NeuralScorer.score(cands.limit(100)).toDF()
      .select("subj", "pred", "obj", "doc_id", "span_idx")
    TableIO.writeTsv(triples, dir)
    val back = spark.read.option("sep", "\t").option("header", "true").csv(dir)
    assert(back.count() == triples.count())
    assert(back.columns.toSeq == triples.columns.toSeq)
  }

  test("O1 seeded shuffle: stable permutation, exact split, partition-invariant") {
    val df = spark.range(0, 1000).select(col("id").cast("long").as("doc_id"))
    val a = graft.sample.Shuffles.seededSplit(df, "doc_id", seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val b = graft.sample.Shuffles.seededSplit(df.repartition(13), "doc_id", seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(a.sorted.toSeq == b.sorted.toSeq, "permutation must not depend on partitioning")
    assert(a.map(_._2).toSet == (1L to 1000L).toSet, "pos is a permutation")
    assert(a.count(_._3 == "train") == 800 && a.count(_._3 == "valid") == 200)
    val c = graft.sample.Shuffles.seededShuffle(df, "doc_id", seed = 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(c != a.map(t => (t._1, t._2)).toSet, "different seed, different permutation")
  }
}
