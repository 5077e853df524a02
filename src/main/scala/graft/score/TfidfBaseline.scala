package graft.score

import graft.model.SdpCandidate
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.{CountVectorizer, IDF, StringIndexer}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** M16: the reference's TF-IDF + logistic-regression relation baseline
  * (RelEmbed_semeval.ipynb cells 61-63, Semeval Brown baseline.ipynb),
  * restated on Spark ML: CountVectorizer → IDF → LogisticRegression over the
  * SDP's word sequence, trained on a deterministic 80/20 hash split of the
  * labeled candidates and evaluated with `Eval.evaluate` semantics.
  *
  * Scale shape: feature extraction is narrow; CountVectorizer's vocab build
  * is one aggregation; LR training is Spark ML's distributed L-BFGS. The
  * fitted model broadcasts into the scoring stage like every other model
  * here.
  */
object TfidfBaseline {

  /** Labeled rows: features = path words, label = the collapsed
    * signature-scorer label (the deterministic stand-in for SemEval gold).
    */
  def labeledRows(cands: Dataset[SdpCandidate]): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands.map { c =>
      val sig = SignatureScorer.signatureKey(c.path)
      val label = Labels.collapse(
        Labels.all(math.floorMod(sig.hashCode, Labels.all.length - 1)))
      // feature bag = path words + tagged dep/pos tokens (the reference's
      // ablations use lexical and dependency features; dep tokens are what
      // make the deterministic signature labels learnable at all)
      val feats = c.path.map(_.word).toSeq ++
        c.path.map("d:" + _.dep).toSeq ++
        c.path.sliding(2).filter(_.length == 2)
          .map(p => "b:" + p(0).dep + ">" + p(1).dep).toSeq
      (c.doc_id, c.span_idx, c.x, c.y, feats, label)
    }.toDF("doc_id", "span_idx", "x", "y", "words", "label")
      .withColumn("fold",
        when(pmod(xxhash64(col("doc_id"), col("span_idx"), col("x"), col("y")),
          lit(10)) < 8, lit("train")).otherwise(lit("valid")))
  }

  /** Fit on the train fold, predict the valid fold.
    * Output (doc_id, span_idx, pred_label, label).
    */
  def predictions(cands: Dataset[SdpCandidate], seed: Long = 42L): DataFrame = {
    // coalesce before training: L-BFGS runs one treeAggregate per iteration,
    // and at test-corpus scale many near-empty partitions cost more in task
    // overhead than they buy in parallelism (a real corpus re-spreads here)
    val rows = labeledRows(cands)
      .coalesce(math.min(cands.sparkSession.sparkContext.defaultParallelism, 8))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val train = rows.filter(col("fold") === "train")
    val valid = rows.filter(col("fold") === "valid")

    val indexer = new StringIndexer()
      .setInputCol("label").setOutputCol("y_idx").setHandleInvalid("keep")
      .fit(rows)
    val cv = new CountVectorizer()
      .setInputCol("words").setOutputCol("tf").setVocabSize(1 << 16)
      .fit(train)
    val idf = new IDF().setInputCol("tf").setOutputCol("features")
      .fit(cv.transform(train))
    val lr = new LogisticRegression()
      .setLabelCol("y_idx").setFeaturesCol("features")
      .setMaxIter(30).setRegParam(0.01).setElasticNetParam(0.0)
      .fit(idf.transform(cv.transform(indexer.transform(train))))

    val labelsArr = indexer.labelsArray.head
    val backToLabel = udf((i: Double) =>
      if (i.toInt < labelsArr.length) labelsArr(i.toInt) else "Other")
    lr.transform(idf.transform(cv.transform(indexer.transform(valid))))
      .select(col("doc_id"), col("span_idx"),
        backToLabel(col("prediction")).as("pred_label"), col("label"))
  }
}
