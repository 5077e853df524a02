package graft.sample

import graft.functions.Ranks
import graft.model.SdpCandidate
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Negative sampling — the reference's distinctive batch operator
  * (data_handler.py:126-236 `_generate_batch`): per true row emit `negPer`
  * corrupted copies with label 0:
  *  - first negative swaps the targets (x,y)→(y,x) (data_handler.py:172-178);
  *  - other negatives resample one/both endpoints from the target unigram
  *    distribution (:181-188) and corrupt up to `negLevel` interior path
  *    words from the smoothed vocab distribution (:196-205).
  *
  * Spark restatement: flatMap with a per-row keyed RNG — seed mixes the
  * global seed with (doc_id, span_idx, x, y, copy index) so output is
  * deterministic under any partitioning (SURVEY.md §2.9).
  */
object NegativeSampling {

  case class LabeledCandidate(cand: SdpCandidate, label: Int, copy: Int)

  /** Mix a stable 64-bit state from row identity + copy (splitmix64). */
  private def mix(parts: Any*): Long = {
    var h = 0x9e3779b97f4a7c15L
    parts.foreach { p => h = (h ^ p.hashCode.toLong) * 0xbf58476d1ce4e5b9L; h ^= h >>> 27 }
    h
  }

  private final class KeyedRng(seed0: Long) {
    private var s = if (seed0 == 0) 0x1234567887654321L else seed0
    def nextLong(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s }
    def nextInt(bound: Int): Int = math.floorMod(nextLong(), bound.toLong).toInt
  }

  /** The pool order shared by both sampling paths: unsigned UTF-8 byte
    * comparison, which is what Spark's UTF8String binary ordering (the
    * distributed path's `col("surface").asc`) implements. Scala's plain
    * `String` ordering compares UTF-16 code units instead, and the two
    * diverge for supplementary code points (≥ U+10000) mixed with
    * U+E000–U+FFFF — silently remapping pool indices (ADVICE round 2).
    * Sort broadcast pools with THIS ordering, not `.sorted`.
    */
  val poolOrdering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val ba = a.getBytes("UTF-8"); val bb = b.getBytes("UTF-8")
      val n = math.min(ba.length, bb.length)
      var i = 0
      while (i < n) {
        val d = (ba(i) & 0xff) - (bb(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      ba.length - bb.length
    }
  }

  /** Emit (true row, label 1) plus `negPer` corruptions (label 0). `targets`
    * and `vocab` are the sampled-from pools (broadcast; reference's target /
    * smoothed-vocab unigram distributions — uniform stands in here since the
    * distribution itself ships as A6's power-smoothing query). For row parity
    * with `withNegativesDistributed`, pools must be sorted by `poolOrdering`.
    */
  def withNegatives(
      cands: Dataset[SdpCandidate],
      targets: IndexedSeq[String],
      vocab: IndexedSeq[String],
      negPer: Int = 3,
      negLevel: Int = 1,
      seed: Long = 42L): Dataset[LabeledCandidate] = {
    val spark = cands.sparkSession
    import spark.implicits._
    val bcT = spark.sparkContext.broadcast(targets)
    val bcV = spark.sparkContext.broadcast(vocab)
    cands.flatMap { c =>
      val ts = bcT.value; val vs = bcV.value
      Iterator.single(LabeledCandidate(c, 1, 0)) ++
        (1 to negPer).iterator.map { k =>
          val rng = new KeyedRng(mix(seed, c.doc_id, c.span_idx, c.x, c.y, k))
          val corrupted =
            if (k == 1) c.copy(x = c.y, y = c.x) // first negative: swap
            else {
              var cc = c.copy(x = ts(rng.nextInt(ts.length)))
              if (rng.nextInt(2) == 1) cc = cc.copy(y = ts(rng.nextInt(ts.length)))
              // corrupt up to negLevel interior path words
              if (cc.path.length > 2) {
                val p = cc.path.clone()
                var n = 0
                while (n < negLevel) {
                  val idx = 1 + rng.nextInt(p.length - 2)
                  p(idx) = p(idx).copy(word = vs(rng.nextInt(vs.length)))
                  n += 1
                }
                cc = cc.copy(path = p)
              }
              cc
            }
          LabeledCandidate(corrupted, 0, k)
        }
    }
  }

  /** Collect-free negative sampling: identical draw stream and output rows as
    * `withNegatives` (spec-verified), but the sample pool is never
    * round-tripped through the driver. Endpoint/word corruptions are drawn as
    * POOL INDICES by the same keyed RNG, then resolved by joining an indexed
    * pool table (`Ranks.globalRowNumber`, one sorted pass over surface asc —
    * Spark's UTF-8 byte order, i.e. the SAME 0-based ordering a broadcast
    * pool sorted with `poolOrdering` gives `withNegatives`; plain `.sorted`
    * compares UTF-16 code units and diverges, see `poolOrdering`). The only
    * driver traffic is the sorted pass's per-partition counts and the pool
    * SIZE (one scalar); the index joins broadcast while the pool is
    * dictionary-sized and degrade to shuffle joins beyond that.
    *
    * `pool` is a single string column of candidate surfaces (used for both
    * endpoint and path-word draws, as q36 does). Supports negLevel ≤ 1 — the
    * reference's default; deeper corruption would need one join per level.
    */
  def withNegativesDistributed(
      cands: Dataset[SdpCandidate],
      pool: DataFrame,
      negPer: Int = 3,
      negLevel: Int = 1,
      seed: Long = 42L): DataFrame = {
    require(negLevel <= 1, "distributed path supports negLevel <= 1")
    val spark = cands.sparkSession
    import spark.implicits._
    val idx = Ranks.globalRowNumber(
      pool.toDF("surface").distinct(), Seq(col("surface").asc), "__rn")
      .select((col("__rn") - 1).as("idx"), col("surface"))
    val poolSize = idx.count().toInt // O(1) scalar, not the pool
    val skel = cands.flatMap { c =>
      Iterator.single((c, 1, 0, -1L, -1L, -1, -1L)) ++
        (1 to negPer).iterator.map { k =>
          if (k == 1) (c.copy(x = c.y, y = c.x), 0, k, -1L, -1L, -1, -1L)
          else {
            val rng = new KeyedRng(mix(seed, c.doc_id, c.span_idx, c.x, c.y, k))
            val xi = rng.nextInt(poolSize).toLong
            val yi = if (rng.nextInt(2) == 1) rng.nextInt(poolSize).toLong else -1L
            val (wp, wi) =
              if (c.path.length > 2 && negLevel > 0)
                (1 + rng.nextInt(c.path.length - 2), rng.nextInt(poolSize).toLong)
              else (-1, -1L)
            (c, 0, k, xi, yi, wp, wi)
          }
        }
    }.toDF("c", "label", "copy", "x_idx", "y_idx", "w_pos", "w_idx")
    skel
      .join(idx.select(col("idx").as("x_idx"), col("surface").as("__x")), Seq("x_idx"), "left")
      .join(idx.select(col("idx").as("y_idx"), col("surface").as("__y")), Seq("y_idx"), "left")
      .join(idx.select(col("idx").as("w_idx"), col("surface").as("__w")), Seq("w_idx"), "left")
      .select(
        col("c.doc_id").as("doc_id"), col("c.span_idx").as("span_idx"),
        coalesce(col("__x"), col("c.x")).as("x"),
        coalesce(col("__y"), col("c.y")).as("y"),
        expr("CASE WHEN w_pos >= 0 THEN transform(c.path, (st, i) -> " +
          "IF(i = w_pos, named_struct('word', __w, 'dep', st.dep, 'pos', st.pos), st)) " +
          "ELSE c.path END").as("path"),
        col("c.source").as("source"), col("label"), col("copy"))
  }
}
