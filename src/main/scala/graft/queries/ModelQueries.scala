package graft.queries

import graft.extract.Sdp
import graft.functions.Ranks
import graft.score.{NeuralScorer, TfidfBaseline}
import graft.similarity.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables.{candidates, firstFive, sentences}

/** Model-side operator coverage (SURVEY.md §2 M-rows) as registry queries.
  * The dependency parse + float model make these non-SQL-expressible, so they
  * are rows-only for the driver; their correctness gate is
  * ModelOpsSpec (hand-computed fixtures + invariants).
  */
object ModelQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // M3 + M10: unsupervised bilinear logit x^T diag(h) y and the twin
    // single-endpoint logits, one GRU encode per candidate
    "q40_unsup_scores" -> ((s, dir) => NeuralScorer.unsupScores(candidates(s, dir))),

    // M11: classification over the masked-mean composition
    "q41_mean_composition" -> ((s, dir) =>
      NeuralScorer.scoreMean(candidates(s, dir)).toDF()
        .select("subj", "pred", "obj", "doc_id", "span_idx")),

    // M8: similarity reps [x⊙h ; y] materialized as an embedding table, then
    // cosine top-k over them (query set = first 5 candidates in the
    // deterministic rep ordering)
    "q42_sim_rep_topk" -> ((s, dir) => {
      // persist the rep table BELOW the rank: the range sample and the sort
      // would otherwise each run extraction + GRU encoding
      val repTable = NeuralScorer.simRepTable(candidates(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the key is not unique (sf0.01: 6,193 rep rows, 6,066 distinct keys),
      // but tied rows are whole-candidate duplicates: the embedding is a
      // function of x, y and the path, all in the key, so the output cannot
      // depend on which copy gets which vec_id
      val reps = Ranks.globalRowNumber(
        repTable,
        Seq(col("doc_id").asc, col("span_idx").asc, col("x").asc, col("y").asc,
          col("path_sig").asc),
        "__rn")
        .select((col("__rn") - 1).as("vec_id"), col("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Similarity.cosineTopK(reps, firstFive(reps), k = 5)
    }),

    // M16: TF-IDF + logistic-regression baseline over the labeled candidates
    "q43_tfidf_lr" -> ((s, dir) => TfidfBaseline.predictions(candidates(s, dir))),

    // M9: cluster-pair softmax over K² pair classes (observed pair label,
    // argmax pair, softmax prob of observed)
    "q46_cluster_softmax" -> ((s, dir) =>
      NeuralScorer.clusterPairScores(candidates(s, dir))),

    // M4+M7+§2.9 COMPOSED into the reference's unsupervised training loop:
    // negative-sampling sigmoid-xent minimized with clipped Adam, as a
    // distributed parameter-server step (broadcast params → per-partition
    // gradient partials → `DetReduce.tree` → clipped Adam, the one loop
    // `Trainer.fit`). One row per epoch; TrainerSpec asserts the loss falls
    // and the ranking margin grows (accuracy is deliberately not gated)
    // 12 epochs: enough for the loss/margin signal in the epoch rows while
    // keeping the bench cost of an iterative query bounded (TrainerSpec
    // drives the full 20)
    "q50_train_negsamp" -> ((s, dir) =>
      graft.score.Trainer.trainNegSampling(candidates(s, dir), epochs = 12)),

    // FULL-model backprop (relembed.py:473-496 trains tf.trainable_variables
    // — all of them): exact BPTT through the GRU + embedding-table scatter +
    // bilinear head under the same §2.9 negative-sampling xent, run by the
    // same training loop as q50 (`Trainer.fit`). Gradient equations gated by a
    // finite-difference check over every parameter (GruTrainerSpec). One
    // row per epoch; 6 epochs bound the bench cost of an iterative query
    "q52_train_gru" -> ((s, dir) =>
      graft.score.GruTrainer.train(candidates(s, dir), epochs = 6)),

    // M13 + M14 + M15: the reference's abandoned prototype heads (3-way
    // tensor inner product, keras diag-bilinear layer, child-sum TreeRNN
    // over the sentence dependency tree) — one narrow stage, per-sentence
    // tree state shared across that sentence's candidates; rows-only,
    // fixture-gated by ModelOpsSpec
    "q49_prototype_scores" -> ((s, dir) =>
      graft.score.Prototypes.prototypeScores(sentences(s, dir))),

    // P12 faithful: forward ∪ reversed SdpCandidates with last-step word
    // rewrite and target reduction (not just the token-sequence shape of q34)
    "q44_reverse_sdp" -> ((s, dir) => {
      import s.implicits._
      val c = candidates(s, dir)
      val both = c.map(x => (x, "fwd")).union(c.map(x => (Sdp.reverseCandidate(x), "rev")))
      both.map { case (cc, d) =>
        (cc.doc_id, cc.span_idx, d, cc.x, cc.y, cc.path.length,
          cc.path.headOption.map(_.word).getOrElse(""),
          cc.path.lastOption.map(_.word).getOrElse(""))
      }.toDF("doc_id", "span_idx", "dir", "x", "y", "path_len", "first_word", "last_word")
    }))
}
