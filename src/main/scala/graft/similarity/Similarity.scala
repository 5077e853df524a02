package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (vec_id: long,
  * embedding: array<float>). Declarative only: dot products are scaled-integer
  * in-row folds (`aggregate` over `zip_with`) so results are bit-deterministic
  * regardless of partitioning; no UDFs, stays inside codegen.
  *
  * Scale path: brute-force top-k is O(N·Q) — fine when the query set is
  * small/broadcast. For corpus-scale ANN, `ivfAssign` buckets vectors by
  * nearest centroid (IVF coarse quantizer); `ivfSearch` probes only the
  * `nprobe` nearest buckets — the join key becomes the bucket id, so the
  * shuffle is proportional to probed buckets, not the corpus.
  */
object Similarity {

  /** Scaled-integer dot product: Σ floor(aᵢ·bᵢ·10⁶) as int64. Integer
    * addition is associative, so the value is identical under any partitioning
    * or fold order — and reproducible in any engine (oracle-exact), unlike a
    * float accumulation. 10⁻⁶ quantization is far below embedding noise.
    */
  def dotScaled(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> cast(floor(cast(x as double) * cast(y as double) * 1000000D) as bigint)), 0L, (acc, v) -> acc + v)")

  /** The `keep` columns and the embedding as column `e`, its self-dot
    * carried as `d`: self-dots once per vector, not once per pair.
    */
  private def withSelfDot(df: DataFrame, e: String, d: String, keep: Column*): DataFrame =
    df.select(keep :+ col("embedding").as(e): _*).withColumn(d, dotScaled(e, e))

  /** Cosine of `a` and `b` over their precomputed self-dots `da` and `db`:
    * one cross-dot fold per pair, then double ops over exact integers.
    */
  private def cosine(a: String, b: String, da: String, db: String): Column =
    dotScaled(a, b).cast("double") / sqrt(col(da).cast("double") * col(db).cast("double"))

  /** A similarity in milli-ppm (×1e9, floored): integer output keeps the
    * oracle comparison exact.
    */
  private def mppm(c: Column): Column = floor(c * lit(1000000000L)).cast("long")

  /** The rows of `df` whose `rank` within their `group`, by `order`, is ≤ k. */
  private def topK(df: DataFrame, group: String, k: Int, order: Column*): DataFrame =
    df.withColumn("rank", row_number().over(Window.partitionBy(group).orderBy(order: _*)))
      .filter(col("rank") <= k)

  /** IVF centroid set (centroid_id, cent, dcent): the first `k` vectors by
    * vec_id (deterministic seeding), self-dot carried.
    */
  private def centroids(corpus: DataFrame, k: Int): DataFrame =
    withSelfDot(corpus.filter(col("vec_id") < k), "cent", "dcent", col("vec_id").as("centroid_id"))

  /** Brute-force cosine top-k of `queries` (q_id, embedding) against `corpus`
    * (vec_id, embedding). Output (q_id, vec_id, rank, cos_mppm) where
    * cos_mppm = cosine in milli-ppm. Rank ties break by vec_id asc.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = withSelfDot(queries, "qe", "dqq", col("q_id"))
    val c = withSelfDot(corpus, "ce", "dcc", col("vec_id"))
    // brute force is declared small-query-set only → broadcast the query
    // side explicitly (derived frames carry no stats, so the planner can't
    // pick the right side itself) and stream the corpus past it
    val joined = broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos_mppm", mppm(cosine("qe", "ce", "dqq", "dcc")))
    topK(joined, "q_id", k, col("cos_mppm").desc, col("vec_id").asc)
      .select("q_id", "vec_id", "rank", "cos_mppm")
  }

  /** IVF coarse assignment: each vector goes to the centroid (see
    * `centroids`) with max cosine (ties → lower centroid id). Output
    * (vec_id, centroid_id).
    */
  def ivfAssign(corpus: DataFrame, k: Int): DataFrame = {
    val scored = withSelfDot(corpus, "embedding", "dvv", col("vec_id"))
      .join(broadcast(centroids(corpus, k)))
      .withColumn("cos_mppm", mppm(cosine("embedding", "cent", "dvv", "dcent")))
    topK(scored, "vec_id", 1, col("cos_mppm").desc, col("centroid_id").asc)
      .select("vec_id", "centroid_id")
  }

  /** IVF search: probe the `nprobe` best buckets for each query, then exact
    * top-k within the probed buckets only.
    *
    * Fold economy (round-1 verdict): self-dot products are computed ONCE per
    * query / centroid / candidate row and carried as columns — the per-pair
    * work is a single cross-dot fold, not three. Callers that keep a
    * materialized IVF index pass it via `assign` so the coarse quantization
    * isn't recomputed per search.
    */
  def ivfSearch(corpus: DataFrame, queries: DataFrame, k: Int,
                nCentroids: Int, nprobe: Int,
                assign: Option[DataFrame] = None): DataFrame = {
    val asg = assign.getOrElse(ivfAssign(corpus, nCentroids))
    // probes rank by the raw double cosine, not its milli-ppm floor
    val probes = topK(
      withSelfDot(queries, "qe", "dqq", col("q_id"))
        .join(broadcast(centroids(corpus, nCentroids)))
        .withColumn("cos", cosine("qe", "cent", "dqq", "dcent")),
      "q_id", nprobe, col("cos").desc, col("centroid_id").asc)
      .select(col("q_id"), col("qe"), col("dqq"), col("centroid_id"))
    val scored = probes
      .join(asg, Seq("centroid_id"))
      .join(withSelfDot(corpus, "ce", "dcc", col("vec_id").as("cand_id")), col("vec_id") === col("cand_id"))
      .filter(col("q_id") =!= col("cand_id"))
      .withColumn("cos_mppm", mppm(cosine("qe", "ce", "dqq", "dcc")))
    topK(scored, "q_id", k, col("cos_mppm").desc, col("cand_id").asc)
      .select(col("q_id"), col("cand_id").as("vec_id"), col("rank"), col("cos_mppm"))
  }

  /** MLlib LSH scale path (J5): BucketedRandomProjectionLSH over
    * L2-normalized vectors (Euclidean distance on the unit sphere is
    * monotone in cosine, so LSH buckets approximate cosine neighborhoods).
    * Seeded ⇒ deterministic. Output (q_id, vec_id, rank, dist_mppm).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bucketLength: Double = 0.5, numHashTables: Int = 4,
              maxDistance: Double = 1.2): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.linalg.Vectors

    val toUnitVec = udf { (arr: Seq[Float]) =>
      val d = arr.map(_.toDouble).toArray
      val n = math.sqrt(d.map(x => x * x).sum)
      Vectors.dense(if (n == 0) d else d.map(_ / n))
    }
    val c = corpus.select(col("vec_id"), toUnitVec(col("embedding")).as("features"))
    val q = queries.select(col("q_id"), toUnitVec(col("embedding")).as("features"))

    val lsh = new BucketedRandomProjectionLSH()
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(42L).setInputCol("features").setOutputCol("hashes")
    val model = lsh.fit(c)
    val pairs = model.approxSimilarityJoin(q, c, maxDistance, "dist")
      .select(col("datasetA.q_id").as("q_id"), col("datasetB.vec_id").as("vec_id"),
        mppm(col("dist")).as("dist_mppm"))
      .filter(col("q_id") =!= col("vec_id"))
    topK(pairs, "q_id", k, col("dist_mppm").asc, col("vec_id").asc)
  }

  /** Near-duplicate pairs (a, b, cos_mppm), a < b, with cosine ≥
    * `thresholdMppm` within blocks of equal label and equal `blocks`
    * columns. Self-dots are precomputed once per vector (O(N) folds)
    * instead of per pair (O(pairs) folds) — 3× fewer folds on the
    * quadratic step.
    */
  private def nearDupPairs(corpus: DataFrame, thresholdMppm: Long, blocks: (String, Column)*): DataFrame = {
    val keys = "lbl" +: blocks.map(_._1)
    val blocked = blocks.foldLeft(corpus.withColumn("lbl", col("label"))) { case (df, (k, c)) => df.withColumn(k, c) }
    def side(id: String, e: String, d: String) =
      withSelfDot(blocked, e, d, keys.map(col) :+ col("vec_id").as(id): _*)
    side("a", "ea", "daa").join(side("b", "eb", "dbb"), keys).filter(col("a") < col("b"))
      .withColumn("cos_mppm", mppm(cosine("ea", "eb", "daa", "dbb")))
      .filter(col("cos_mppm") >= thresholdMppm)
      .select("a", "b", "cos_mppm")
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold_mppm within
    * label-partitioned blocks (blocking keeps the pair space bounded).
    *
    * This is the EXACT baseline: within-label recall is 1.0, but a hot label
    * is a quadratic block. At corpus scale use `embeddingNearDupBlocked`,
    * which sub-blocks each label by an LSH sign band.
    */
  def embeddingNearDup(corpus: DataFrame, thresholdMppm: Long): DataFrame =
    nearDupPairs(corpus, thresholdMppm)

  /** Scale path of `embeddingNearDup`: double blocking on
    * (label, sign-band). The band is the 8-bit hyperplane-sign signature of
    * the first 8 embedding dims (axis-plane LSH) — near-identical vectors
    * land in the same band with high probability, and a hot label no longer
    * yields one quadratic block: the pair space is bounded by
    * (label × band) bucket sizes. Deterministic and engine-portable, so the
    * whole operator stays oracle-checkable (q39).
    */
  def embeddingNearDupBlocked(corpus: DataFrame, thresholdMppm: Long): DataFrame =
    nearDupPairs(corpus, thresholdMppm, "band" -> expr(
      "aggregate(zip_with(slice(embedding, 1, 8), sequence(0, 7), " +
        "(x, i) -> IF(cast(x as double) > 0D, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)"))
}
